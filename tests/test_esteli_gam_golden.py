"""Estelí + GAM golden parity: default creators, schedule-join path.

These two cities use the DEFAULT creators (no overrides), so their
committed goldens validate the engine's schedule path: J5 composite
join, J7 cursor alignment, transitfeed distance-weighted interpolation,
O5 trip-id insertion order, P11 stop ids, station membership, colour
normalization + contrast. Calendar start/end dates are generated from
"now" in the reference and are compared as day-flags only.
"""

from __future__ import annotations

import csv
import io
import os
import zipfile

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.plans.default_city import build_city_tables
from osm2gtfs_spark.sources.osm_xml import timetable_docs_df, xml_docs_df

FIX = "/root/reference/osm2gtfs/tests/creators/fixtures"

pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{FIX}/ni_esteli/ni_esteli_gtfs.zip.ref"), reason="reference fixtures not available"
)
CITIES = {
    "ni_esteli": {
        "name_without": "Parada sin nombre",
        "counts": {"points": 286, "areas": 114, "routes": 5, "trips": 700},
        "route_to_check": "3",
    },
    "cr_gam": {
        "name_without": "Parada sin nombre",
        "counts": {"points": 33, "areas": 1, "routes": 3},
        "route_to_check": "2",
    },
}


def _golden(city: str, table: str) -> list[dict]:
    with zipfile.ZipFile(f"{FIX}/{city}/{city}_gtfs.zip.ref") as z:
        return list(csv.DictReader(io.TextIOWrapper(z.open(table), encoding="utf-8")))


@pytest.fixture(scope="module", params=list(CITIES))
def city_tables(request, spark):
    city = request.param
    cfg = CITIES[city]
    tables = build_city_tables(
        xml_docs_df(spark, [f"{FIX}/{city}/overpass-stops.xml"]),
        xml_docs_df(spark, [f"{FIX}/{city}/overpass-routes.xml"]),
        timetable_docs_df(spark, f"{FIX}/{city}/timetable.json"),
        name_without=cfg["name_without"],
    )
    return city, cfg, tables


def test_counts(city_tables):
    city, cfg, t = city_tables
    stops = t.stops.collect()
    assert len([s for s in stops if s.location_type == "0"]) == cfg["counts"]["points"]
    assert len([s for s in stops if s.location_type == "1"]) == cfg["counts"]["areas"]
    assert t.routes.count() == cfg["counts"]["routes"]
    if "trips" in cfg["counts"]:
        assert t.trips.count() == cfg["counts"]["trips"]


def test_golden_routes(city_tables):
    city, cfg, t = city_tables
    golden = sorted(
        (r["route_id"], r["route_short_name"], r["route_long_name"], r["route_type"],
         r["route_color"], r["route_text_color"])
        for r in _golden(city, "routes.txt")
    )
    got = sorted(
        (r.route_id, r.route_short_name, r.route_long_name, r.route_type,
         r.route_color, r.route_text_color)
        for r in t.routes.collect()
    )
    assert got == golden


def test_golden_stops(city_tables):
    city, cfg, t = city_tables
    golden = {r["stop_id"]: r for r in _golden(city, "stops.txt")}
    got = {r.stop_id: r for r in t.stops.collect()}
    assert set(got) == set(golden)
    for sid, g in golden.items():
        o = got[sid]
        assert o.parent_station == g["parent_station"], sid
        assert o.stop_name == g["stop_name"], sid
        assert abs(float(o.stop_lat) - float(g["stop_lat"])) < 1e-8, sid


def test_golden_trips(city_tables):
    city, cfg, t = city_tables
    golden = sorted(
        (r["trip_id"], r["route_id"], r["service_id"], r["shape_id"], r["trip_headsign"])
        for r in _golden(city, "trips.txt")
    )
    got = sorted(
        (r.trip_id, r.route_id, r.service_id, r.shape_id, r.trip_headsign)
        for r in t.trips.collect()
    )
    assert got == golden


def test_golden_stop_times_checked_route(city_tables):
    """check_osm_route_stop_times equivalent for the city's route."""
    city, cfg, t = city_tables
    rid = cfg["route_to_check"]
    golden_trip_ids = {r["trip_id"] for r in _golden(city, "trips.txt") if r["route_id"] == rid}
    golden = sorted(
        (r["trip_id"], r["stop_sequence"], r["stop_id"], r["arrival_time"], r["departure_time"])
        for r in _golden(city, "stop_times.txt")
        if r["trip_id"] in golden_trip_ids
    )
    got = sorted(
        (r.trip_id, r.stop_sequence, r.stop_id, r.arrival_time, r.departure_time)
        for r in t.stop_times.join(
            t.trips.filter(F.col("route_id") == rid).select("trip_id"), "trip_id"
        ).collect()
    )
    assert got == golden


def test_calendar_day_flags(city_tables):
    city, cfg, t = city_tables
    golden = {
        r["service_id"]: tuple(
            r[d] for d in ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
        )
        for r in _golden(city, "calendar.txt")
    }
    got = {
        r.service_id: tuple(
            str(getattr(r, d))
            for d in ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
        )
        for r in t.calendar.collect()
    }
    assert got == golden


def test_shapes_full_equality(city_tables):
    """O1 stitcher orientation-exact: byte-equal shapes.txt (1-based)."""
    city, _cfg, t = city_tables
    golden = sorted(
        (r["shape_id"], int(r["shape_pt_sequence"]), r["shape_pt_lat"], r["shape_pt_lon"])
        for r in _golden(city, "shapes.txt")
    )
    got = sorted(
        (r["shape_id"], int(r["shape_pt_sequence"]), r["shape_pt_lat"], r["shape_pt_lon"])
        for r in t.shapes.collect()
    )
    assert len(got) == len(golden)
    diffs = [(a, b) for a, b in zip(golden, got) if a != b]
    assert not diffs, f"{city}: {len(diffs)} differing shape rows; first: {diffs[0]}"


def test_validate_feed_on_golden_city(city_tables):
    """Extended transitfeed-style checks are clean on the golden cities
    (duplicate_stops is a warning class — reported, not asserted)."""
    from osm2gtfs_spark.sources.gtfs_sink import validate_feed

    city, cfg, t = city_tables
    checks = {r.check: r.n_bad for r in validate_feed(t).collect()}
    errors = {k: v for k, v in checks.items() if v and k != "duplicate_stops"}
    assert not errors, f"{city}: validation errors {errors}"
