"""GTFS zip sink determinism + feed validation (S8/S9)."""

from __future__ import annotations

import csv
import glob
import hashlib
import io
import os
import zipfile

import pytest

from osm2gtfs_spark.plans.pipeline import run_frequency_pipeline, run_schedule_pipeline
from osm2gtfs_spark.sources import docs as D
from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog
from osm2gtfs_spark.sources.gtfs_sink import validate_feed, write_gtfs_zip

# (pipeline, store) → sha256 of the zip written from that run's tables
ZIP_PINS = {
    ("frequency", "memory"): "69c36240e95e2fa201705a94e9a534bf80e76972c52f591c1d8d13004d7368c0",
    ("frequency", "cache_dir"): "69c36240e95e2fa201705a94e9a534bf80e76972c52f591c1d8d13004d7368c0",
    ("schedule", "memory"): "05693e2904d7e8f41a42a525439f4f127d0efc2d5ec458e07e488ee574b874cb",
    ("schedule", "cache_dir"): "05693e2904d7e8f41a42a525439f4f127d0efc2d5ec458e07e488ee574b874cb",
}


@pytest.fixture(scope="module")
def tables(spark):
    return run_frequency_pipeline(D.docs_df(spark, D.CitySpec(n_lines=3, with_stop_areas=True)))


@pytest.fixture(scope="module")
def feeds(spark, tmp_path_factory):
    """Both docs-parquet pipelines on one small city, each run in memory
    and on a ``CheckpointCatalog``."""
    docs = D.docs_df(spark, D.CitySpec(n_lines=3, with_stop_areas=True, with_schedule=True))
    runs = {"frequency": run_frequency_pipeline, "schedule": run_schedule_pipeline}
    out = {}
    for (pipeline, store) in ZIP_PINS:
        catalog = None
        if store == "cache_dir":
            catalog = CheckpointCatalog(spark, str(tmp_path_factory.mktemp(pipeline)))
        out[pipeline, store] = runs[pipeline](docs, catalog=catalog)
    return out


def test_zip_pins(feeds, tmp_path):
    """The zip bytes of each docs-parquet pipeline, in memory and with a
    cache_dir, are pinned."""
    got = {}
    for (pipeline, store), t in feeds.items():
        path = write_gtfs_zip(t, str(tmp_path / f"{pipeline}_{store}.zip"))
        got[pipeline, store] = hashlib.sha256(open(path, "rb").read()).hexdigest()
    assert got == ZIP_PINS


def test_zip_members_and_determinism(tables, tmp_path):
    p1 = write_gtfs_zip(tables, str(tmp_path / "a.zip"))
    p2 = write_gtfs_zip(tables, str(tmp_path / "b.zip"))
    b1, b2 = open(p1, "rb").read(), open(p2, "rb").read()
    assert b1 == b2, "zip must be byte-stable across runs (O5)"
    with zipfile.ZipFile(p1) as z:
        names = set(z.namelist())
        assert {
            "stops.txt",
            "routes.txt",
            "trips.txt",
            "stop_times.txt",
            "shapes.txt",
            "calendar.txt",
            "frequencies.txt",
            "agency.txt",
        } <= names
        st = z.read("stop_times.txt").decode().splitlines()
        assert st[0] == "trip_id,arrival_time,departure_time,stop_id,stop_sequence,timepoint"
        # ordered by (trip_id numeric, stop_sequence)
        keys = [(float(r.split(",")[0]), int(r.split(",")[4])) for r in st[1:]]
        assert keys == sorted(keys)
        # station rows flagged location_type=1 with empty parent
        stops_rows = z.read("stops.txt").decode().splitlines()[1:]
        assert any(r.split(",")[4] == "1" for r in stops_rows)


def test_validate_feed_clean(tables):
    checks = {r.check: r.n_bad for r in validate_feed(tables).collect()}
    assert {
        "stop_times_fk_trip",
        "stop_times_fk_stop",
        "trips_fk_route",
        "trips_fk_service",
        "trips_fk_shape",
        "bad_time_format",
        "arrival_after_departure",
        "time_travel_in_trip",
        "bad_stop_sequence",
        "empty_stop_name",
        "duplicate_stops",
        "bad_calendar_date",
        "bad_headway",
    } <= set(checks)
    assert all(v == 0 for v in checks.values()), f"validation failures: {checks}"


def test_validate_feed_seeded_violations(spark):
    """Each extended check catches a deliberately broken feed."""
    from types import SimpleNamespace

    stops = spark.createDataFrame(
        [
            ("s1", "A", 1.0, 1.0),
            ("s2", "", 2.0, 2.0),          # empty name
            ("s3", "Twin", 3.0, 3.0),      # duplicate pair
            ("s4", "Twin", 3.000001, 3.0),
        ],
        "stop_key string, name string, lat double, lon double",
    )
    routes = spark.createDataFrame([("r1",)], "route_id string")
    calendar = spark.createDataFrame(
        [("svc", "20180101", "2017123")],   # malformed end_date
        "service_id string, start_date string, end_date string",
    )
    trips = spark.createDataFrame(
        [("t1", "r1", "svc", "shp_missing")],
        "trip_id string, route_id string, service_id string, shape_id string",
    )
    shapes = spark.createDataFrame([("other_shape",)], "shape_id string")
    stop_times = spark.createDataFrame(
        [
            # arrival > departure at seq 1; time-travel at seq 2 (arrives
            # before the previous departure); orphan stop + trip at seq 9
            ("t1", "s1", 1, "08:10:00", "08:00:00"),
            ("t1", "s1", 2, "07:00:00", "07:30:00"),
            ("t1", "ghost", 2, "bad", "bad"),       # dup seq + bad format + fk
            ("t_orphan", "s1", 1, "09:00:00", "09:00:00"),
        ],
        "trip_id string, stop_key string, stop_sequence int, arrival_time string, departure_time string",
    )
    freqs = spark.createDataFrame(
        [("t1", 0)], "trip_id string, headway_secs int"
    )
    cal_dates = spark.createDataFrame(
        [("svc", "2018010", "3")],          # bad date + bad exception type
        "service_id string, date string, exception_type string",
    )
    tbl = SimpleNamespace(
        stops=stops, routes=routes, calendar=calendar, trips=trips,
        shapes=shapes, stop_times=stop_times, frequencies=freqs,
        calendar_dates=cal_dates, stations=None,
    )
    # stations attr must be absent or a DF; use a namespace without it
    del tbl.stations
    checks = {r.check: r.n_bad for r in validate_feed(tbl).collect()}
    assert checks["stop_times_fk_trip"] == 1      # t_orphan
    assert checks["stop_times_fk_stop"] == 1      # ghost
    assert checks["bad_time_format"] == 1
    assert checks["arrival_after_departure"] == 1
    assert checks["time_travel_in_trip"] == 1
    assert checks["bad_stop_sequence"] == 1       # t1 has dup seq 2
    assert checks["empty_stop_name"] == 1
    assert checks["duplicate_stops"] == 1         # Twin pair within ~1 m
    assert checks["bad_calendar_date"] == 1
    assert checks["trips_fk_shape"] == 1
    assert checks["bad_exception_date"] == 1
    assert checks["bad_headway"] == 1


def test_zip_shard_invariance(spark, tables, feeds, tmp_path, monkeypatch):
    """The writer count AQE picks does not reach the zip bytes (O5): a
    default-conf write equals one with partition coalescing off, where
    the range exchange keeps every shuffle partition as a writer. Runs
    on the in-memory frequency tables and on the other three pinned
    runs."""
    from types import SimpleNamespace

    from osm2gtfs_spark.sources import gtfs_sink

    parts: dict[str, list[str]] = {}

    def recording_glob(pattern):
        found = glob.glob(pattern)
        parts[os.path.basename(os.path.dirname(pattern))] = found
        return found

    monkeypatch.setattr(gtfs_sink, "glob", SimpleNamespace(glob=recording_glob))
    runs = {"tables": tables}
    runs.update({f"{p}_{s}": t for (p, s), t in feeds.items() if (p, s) != ("frequency", "memory")})
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    for name, t in runs.items():
        p1 = write_gtfs_zip(t, str(tmp_path / f"{name}_default.zip"))
        spark.conf.set(key, "false")
        parts.clear()
        try:
            p2 = write_gtfs_zip(t, str(tmp_path / f"{name}_uncoalesced.zip"))
        finally:
            spark.conf.set(key, prev)
        assert len(parts.get("stop_times.txt.parts", [])) > 1, f"{name}: the comparison needs several writers"
        assert open(p1, "rb").read() == open(p2, "rb").read(), name


def test_agency_member_is_csv(tables, tmp_path):
    """agency.txt is CSV-quoted: a comma inside a value stays one field,
    and a non-string config value (a numeric phone) is written as text."""
    agency = {
        "agency_id": "O",
        "agency_name": "Bus, Rail & Co",
        "agency_url": "https://example.org",
        "agency_timezone": "UTC",
        "agency_phone": 5551234,
    }
    p = write_gtfs_zip(tables, str(tmp_path / "a.zip"), agency=agency)
    with zipfile.ZipFile(p) as z:
        rows = list(csv.reader(io.StringIO(z.read("agency.txt").decode("utf-8"))))
    assert rows == [list(agency), ["O", "Bus, Rail & Co", "https://example.org", "UTC", "5551234"]]


def test_member_rows_guardrail_and_fill_precedence(spark, monkeypatch):
    """VERDICT r3 item 5 + ADVICE r3: driver-side member assembly must
    refuse corpus-scale tables, and per-row column values must beat
    config-level fill constants (fill is a default, not an override)."""
    import pytest

    import osm2gtfs_spark.sources.feed_members as FM

    monkeypatch.setattr(FM, "MAX_COLLECT_ROWS", 3)
    big = spark.range(10).selectExpr("cast(id as string) as stop_id")
    with pytest.raises(ValueError, match="MAX_COLLECT_ROWS"):
        FM._rows(big, ["stop_id"])

    df = spark.createDataFrame(
        [("r1", "A"), ("r2", None)], "route_id string, agency_id string"
    )
    rows = sorted(FM._rows(df, ["route_id", "agency_id"], fill={"agency_id": "CFG"}))
    assert rows == [["r1", "A"], ["r2", "CFG"]]
    # column absent entirely -> fill, then ""
    rows2 = sorted(FM._rows(df.select("route_id"), ["route_id", "agency_id", "route_desc"]))
    assert rows2 == [["r1", "", ""], ["r2", "", ""]]
