"""Florianópolis golden parity: OSM fixtures + Fenix schedule → golden zip.

The reference's br_florianopolis acceptance contract
(tests_br_florianopolis.py:23-31): 73 routes, 1433 stop points, 0
stations, golden stop_times for GTFS route_id 20 — plus full-table
equality against ``br_florianopolis_gtfs.zip.ref`` for routes, trips
and calendar (the golden was generated 2018-03 → derived feed dates
20180301/20190228, which also means every Fenix service-exception date
precedes the feed and is dropped, creators ref :137-151).
"""

from __future__ import annotations

import csv
import io
import os
import zipfile

import pytest

from osm2gtfs_spark.plans.florianopolis import build_florianopolis_tables
from osm2gtfs_spark.sources.fenix import fenix_docs_df
from osm2gtfs_spark.sources.osm_xml import xml_docs_df

FX = "/root/reference/osm2gtfs/tests/creators/fixtures/br_florianopolis"
GOLDEN = f"{FX}/br_florianopolis_gtfs.zip.ref"

pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason="reference fixtures not available"
)


def _golden(table: str) -> list[dict]:
    with zipfile.ZipFile(GOLDEN) as z:
        return list(csv.DictReader(io.TextIOWrapper(z.open(table), encoding="utf-8")))


@pytest.fixture(scope="module")
def tables(spark):
    stops_docs = xml_docs_df(spark, [f"{FX}/overpass-stops.xml"])
    routes_docs = xml_docs_df(spark, [f"{FX}/overpass-routes.xml"])
    fenix_docs = fenix_docs_df(spark, f"{FX}/timetable.json")
    return build_florianopolis_tables(stops_docs, routes_docs, fenix_docs)


def test_counts(tables):
    assert tables.stops.count() == 1433  # all points, no stations
    assert tables.routes.count() == 73


def test_routes_full_equality(tables):
    golden = {r["route_id"]: r for r in _golden("routes.txt")}
    got = {r["route_id"]: r.asDict() for r in tables.routes.collect()}
    assert set(got) == set(golden)
    for rid, g in golden.items():
        assert got[rid] == g, f"route {rid}: {got[rid]} != {g}"


def test_calendar_equality(tables):
    golden = sorted(map(dict, _golden("calendar.txt")), key=lambda r: r["service_id"])
    got = sorted((r.asDict() for r in tables.calendar.collect()), key=lambda r: r["service_id"])
    assert got == golden


def test_trips_full_equality(tables):
    golden = {r["trip_id"]: r for r in _golden("trips.txt")}
    got = {r["trip_id"]: r.asDict() for r in tables.trips.collect()}
    assert len(got) == len(golden)
    mism = [t for t in golden if got.get(t) != golden[t]]
    assert not mism, (
        f"{len(mism)} mismatching trips; first: got={got.get(mism[0])} want={golden[mism[0]]}"
    )


def test_route20_stop_times_golden(tables):
    golden_trips = {r["trip_id"] for r in _golden("trips.txt") if r["route_id"] == "20"}
    golden_st = sorted(
        (
            (r["trip_id"], int(r["stop_sequence"]), r["stop_id"], r["arrival_time"], r["departure_time"])
            for r in _golden("stop_times.txt")
            if r["trip_id"] in golden_trips
        )
    )
    got_trips = {r["trip_id"] for r in tables.trips.collect() if r["route_id"] == "20"}
    assert got_trips == golden_trips
    got_st = sorted(
        (r["trip_id"], int(r["stop_sequence"]), r["stop_id"], r["arrival_time"], r["departure_time"])
        for r in tables.stop_times.collect()
        if r["trip_id"] in got_trips
    )
    assert got_st == golden_st


def test_stop_times_full_equality(tables):
    golden = sorted(
        (r["trip_id"], int(r["stop_sequence"]), r["stop_id"], r["arrival_time"], r["departure_time"])
        for r in _golden("stop_times.txt")
    )
    got = sorted(
        (r["trip_id"], int(r["stop_sequence"]), r["stop_id"], r["arrival_time"], r["departure_time"])
        for r in tables.stop_times.collect()
    )
    assert len(got) == len(golden)
    diffs = [(a, b) for a, b in zip(golden, got) if a != b]
    assert not diffs, f"{len(diffs)} differing stop_times rows; first: {diffs[0]}"


def test_stops_full_equality(tables):
    golden = sorted(
        (r["stop_id"], r["stop_name"], r["stop_lat"], r["stop_lon"])
        for r in _golden("stops.txt")
    )
    # golden coords are Python-2 str(float): 12 significant digits
    got = sorted(
        (r["stop_id"], r["stop_name"], r["stop_lat"], r["stop_lon"])
        for r in tables.stops.collect()
    )
    assert got == golden


def test_shapes_full_equality(tables):
    golden = sorted(
        (r["shape_id"], int(r["shape_pt_sequence"]), r["shape_pt_lat"], r["shape_pt_lon"])
        for r in _golden("shapes.txt")
    )
    got = sorted(
        (r["shape_id"], int(r["shape_pt_sequence"]), r["shape_pt_lat"], r["shape_pt_lon"])
        for r in tables.shapes.collect()
    )
    assert len(got) == len(golden)
    diffs = [(a, b) for a, b in zip(golden, got) if a != b]
    assert not diffs, f"{len(diffs)} differing shape rows; first: {diffs[0]}"


def test_calendar_dates_empty_for_golden(tables):
    """All Fenix exception dates precede 2018-03-01 → none active."""
    assert tables.calendar_dates.count() == 0


def test_service_exceptions_with_early_start(spark):
    """Re-run with start 2017-01-01: operacoes dates become active —
    per-date one-day services, base-service removals (exception_type 2),
    exception trips inserted BEFORE the regular ones per route
    (trips_creator_br_florianopolis.py:137-151,234-253)."""
    stops_docs = xml_docs_df(spark, [f"{FX}/overpass-stops.xml"])
    routes_docs = xml_docs_df(spark, [f"{FX}/overpass-routes.xml"])
    fenix_docs = fenix_docs_df(spark, f"{FX}/timetable.json")
    t = build_florianopolis_tables(
        stops_docs, routes_docs, fenix_docs, start_date="20170101", end_date="20180201"
    )
    cal = {r["service_id"]: r for r in t.calendar.collect()}
    exc_ids = [s for s in cal if s not in ("weekday", "saturday", "sunday")]
    assert exc_ids, "exception services must exist with a 2017 feed start"
    # one-day services: start==end==date prefix, exactly one day flag set
    days = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
    for s in exc_ids:
        r = cal[s]
        assert r["start_date"] == r["end_date"] == s[:8]
        assert sum(int(r[d]) for d in days) == 1
    cd = {(r["service_id"], r["date"]): r["exception_type"] for r in t.calendar_dates.collect()}
    assert cd and all(v == "2" for v in cd.values())
    assert all(s in ("weekday", "saturday", "sunday") for s, _ in cd)
    # exception trips exist and come before regular trips within a route
    trips = [r.asDict() for r in t.trips.collect()]
    by_route: dict[str, list] = {}
    for r in sorted(trips, key=lambda x: int(x["trip_id"])):
        by_route.setdefault(r["route_id"], []).append(r["service_id"])
    routes_with_exc = [svcs for svcs in by_route.values() if any("_" in s for s in svcs)]
    assert routes_with_exc
    for svcs in routes_with_exc:
        first_regular = next(i for i, s in enumerate(svcs) if "_" not in s)
        assert all("_" in s for s in svcs[:first_regular])
        assert all("_" not in s for s in svcs[first_regular:])


def test_zip_members_byte_parity(tables):
    """The reference's own acceptance check (creators_tests.py:234-250)
    compares per-member unzipped sizes — we check the stronger property:
    every member the production writer gives for the golden's config
    has the golden's LINE MULTISET and total byte size (row order inside
    a file is py2 dict-iteration order, semantically irrelevant in GTFS,
    and the only thing not reproduced)."""
    import collections

    from osm2gtfs_spark.sources import feed_members as FM

    config = {
        "agency": {
            "agency_phone": "+55 (48) 3025-6868",
            "agency_url": "http://www.consorciofenix.com.br/",
            "agency_id": "BR-Floripa",
            "agency_name": "Consórcio Fênix",
            "agency_timezone": "America/Sao_Paulo",
            "agency_lang": "pt",
        },
        "feed_info": {
            "publisher_name": "Torsten Grote",
            "publisher_url": "https://transportr.grobox.de",
            "version": "0.1",
            "start_date": "20180301",
            "end_date": "20190228",
        },
    }
    members = FM.members("br_florianopolis", tables, config)

    with zipfile.ZipFile(GOLDEN) as z:
        for name, ours in members.items():
            golden = z.read(name)
            assert len(ours) == len(golden), (
                f"{name}: size {len(ours)} != golden {len(golden)}"
            )
            ours_lines = collections.Counter(ours.split(b"\r\n"))
            golden_lines = collections.Counter(golden.split(b"\r\n"))
            diff = (ours_lines - golden_lines) + (golden_lines - ours_lines)
            assert not diff, f"{name}: {sum(diff.values())} differing lines, e.g. {list(diff)[:2]}"
