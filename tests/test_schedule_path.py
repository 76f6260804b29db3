"""Schedule-join (Managua) path semantics.

Covers J5 composite matching, A3 service union, J7 cursor alignment
with parent fallback + last-stop pinning, W6 interpolation, calendar
synthesis incl. dated services, and invalid-time truncation — the
behaviors of ``trips_creator.py:75-378``.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.plans import schedule_path as SP
from osm2gtfs_spark.plans.pipeline import run_schedule_pipeline
from osm2gtfs_spark.sources import docs as D
from osm2gtfs_spark.sources.gtfs_sink import validate_feed

SPEC = D.CitySpec(
    name="managua_like", n_lines=4, with_stop_areas=True, with_schedule=True, seed=7
)


@pytest.fixture(scope="module")
def tables(spark):
    return run_schedule_pipeline(D.docs_df(spark, SPEC))


def test_trips_created_per_service_and_timerow(tables):
    trips = tables.trips.collect()
    assert trips
    # direction 0 rides Mo-Fr; direction 1 rides Sa, Su and the dated service
    svc_ids = {t.service_id for t in trips}
    assert {"Mo-Fr", "Sa", "Su", "20241225"} <= svc_ids


def test_calendar_synthesis(tables):
    cal = {r.service_id: r for r in tables.calendar.collect()}
    assert cal["Mo-Fr"].monday == 1 and cal["Mo-Fr"].saturday == 0
    assert cal["Sa"].saturday == 1 and cal["Sa"].monday == 0
    assert cal["Su"].sunday == 1
    dated = cal["20241225"]
    assert all(
        getattr(dated, d) == 0
        for d in ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
    )
    dates = tables.calendar_dates.collect()
    assert [(r.service_id, r.date, r.exception_type) for r in dates] == [
        ("20241225", "20241225", 1)
    ]


def test_timepoints_and_interpolation(tables):
    """Terminals+mid are timepoints at scheduled times; interior stops
    interpolate by count between them, monotone."""
    rows = tables.stop_times.orderBy("trip_id", "stop_sequence").collect()
    by_trip: dict[str, list] = {}
    for r in rows:
        by_trip.setdefault(r.trip_id, []).append(r)
    assert by_trip
    for sts in by_trip.values():
        secs = [
            int(s.arrival_time[:2]) * 3600 + int(s.arrival_time[3:5]) * 60 + int(s.arrival_time[6:8])
            for s in sts
        ]
        assert secs == sorted(secs)
        assert sts[0].timepoint == 1, "first stop must be a timepoint"
        n_tp = sum(1 for s in sts if s.timepoint == 1)
        # a truncated trip (invalid time → break) may keep only its first
        # timed stop; every full trip needs >=2 anchors
        assert n_tp >= 2 or len(sts) == 1
        # interpolated stops sit strictly between their surrounding timepoints
        assert sts[0].arrival_time.endswith(":00")


def test_invalid_time_truncates_trip(tables, spark):
    """Line 0 dir 0 has a 4th time-row with '9:99' at the mid station →
    the trip truncates at the mid stop (reference breaks the stop loop)."""
    sched = D.decode_schedule(D.docs_df(spark, SPEC))
    assert sched.filter(F.array_contains(F.flatten("times"), "9:99")).count() == 1
    st = tables.stop_times
    trips = tables.trips
    # the truncated trip exists (first stop was valid) but has fewer stops
    counts = (
        st.join(trips.filter(F.col("route_id") == "0"), "trip_id")
        .groupBy("trip_id")
        .count()
        .collect()
    )
    sizes = sorted(r["count"] for r in counts)
    assert sizes and sizes[0] < sizes[-1], "expected one truncated trip on route 0"


def test_last_stop_pinning_semantics(spark):
    """A mid-itinerary stop may not consume the schedule's last station
    slot (trips_creator.py:238-243)."""
    import pandas as pd

    stops_pdf = pd.DataFrame(
        {
            "itinerary_osm_id": [1] * 3,
            "service": ["Mo-Fr"] * 3,
            "pos": [0, 1, 2],
            "stop_key": ["node/1", "node/2", "node/3"],
            # stop 2 is named like the LAST schedule station but is not last
            "name": ["A", "Z", "B"],
            "parent_name": [None, None, None],
            "stations": [["A", "Z"]] * 3,
            "times": [[["6:00", "7:00"]]] * 3,
        }
    )
    out = SP._align_group(stops_pdf)
    got = {r.stop_key: (r.time_secs, r.timepoint) for r in out.itertuples()}
    assert got["node/1"] == (21600, 1)
    # 'Z' at pos 1 must NOT take the last slot → untimed
    assert got["node/2"][1] == 0 and pd.isna(got["node/2"][0])
    # last itinerary stop 'B' doesn't match any station (pinning both ways)
    assert got["node/3"][1] == 0


def test_service_union_across_matching_rows(tables):
    # each itinerary matched exactly one schedule row here, but the A3
    # union path is what feeds per-service rows; sanity: no duplicate
    # (itinerary, service) trips
    dup = (
        tables.trips.groupBy("shape_id", "service_id", "trip_headsign")
        .count()
        .filter(F.col("count") > 3)  # 3 time rows per service
    )
    assert dup.count() <= 1  # route 0 Mo-Fr has 4 rows (incl. truncated)


def _plan_nodes(df) -> set[str]:
    """Node names of ``df``'s optimized logical plan."""
    names, todo = set(), [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        names.add(node.nodeName())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return names


def test_outputs_plan_as_leaf_scans(tables):
    # a catalog=None run hands validation and the sink finished data:
    # no table re-plans the schedule join lineage, and no runner cache
    # is left for validation to scan
    for field in dataclasses.fields(tables):
        df = getattr(tables, field.name)
        if df is not None:
            nodes = _plan_nodes(df)
            assert not nodes & {"Join", "Window", "Aggregate", "InMemoryRelation"}, (field.name, nodes)
    plan = validate_feed(tables)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan


def test_empty_frequencies_run_no_python_worker(tables):
    # built from JVM expressions, not a Python-side parallelize
    plan = tables.frequencies._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert tables.frequencies.dtypes == [
        ("trip_id", "string"),
        ("start_time", "string"),
        ("end_time", "string"),
        ("headway_secs", "int"),
        ("exact_times", "int"),
    ]
    assert tables.frequencies.count() == 0
