"""Frequency-path pipeline semantics vs reference behavior.

Count contracts + golden stop_times in the style of the reference's
acceptance tests (``tests/creators/creators_tests.py:124-214``,
``tests_gh_accra.py:15-27``), computed on the deterministic synthetic
city instead of the (unavailable) Overpass fixtures.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.plans import gtfs
from osm2gtfs_spark.plans.pipeline import run_frequency_pipeline
from osm2gtfs_spark.sources import docs as D
from osm2gtfs_spark.sources.gtfs_sink import validate_feed


@pytest.fixture(scope="module")
def tables(spark):
    spec = D.CitySpec(n_lines=6, with_stop_areas=True)
    return run_frequency_pipeline(D.docs_df(spark, spec))


def test_stop_counts_and_ids(tables):
    stops = tables.stops.collect()
    assert len(stops) > 0
    for s in stops:
        # stop_id precedence: ref tag wins else osm_type/osm_id (P11)
        assert s.stop_id.startswith("P") or s.stop_id == f"{s.osm_type}/{s.osm_id}"
        assert s.name  # never empty: placeholder for unnamed (P6)
    unnamed = [s for s in stops if s.name == "[stop]"]
    assert unnamed, "unnamed-stop placeholder path must be exercised"


def test_station_two_member_rule(tables):
    # every surviving station grouped >=2 members (osm_connector.py:519-530)
    assert tables.stations.count() > 0
    stations = tables.stations.collect()
    assert all(s.name.startswith("Station") for s in stations)


def test_lines_and_masterless_variants(tables, spark):
    spec = D.CitySpec(n_lines=6, with_stop_areas=True)
    rels = D.decode_relations(D.docs_df(spark, spec))
    lines, itins = gtfs.build_lines(rels)
    lrows = {r.route_id: r for r in lines.collect()}
    # exactly one line per distinct ref (duplicate-ref guard J2)
    assert len(lrows) == lines.count()
    # masterless variants become their own lines (osm_connector.py:184-204):
    # their line_osm_id is a variant id (< ID_REL_MASTER)
    masterless = [r for r in lines.collect() if r.line_osm_id < D.ID_REL_MASTER]
    masters = [r for r in lines.collect() if r.line_osm_id >= D.ID_REL_MASTER]
    assert masters, "expected mastered lines"
    assert masterless, "expected masterless-variant lines (seeded ratio)"
    # all bus → GTFS Bus (P10)
    assert {r.route_type for r in lines.collect()} == {"Bus"}
    # itinerary count = variants of surviving lines
    assert itins.count() >= lines.count()


def test_trip_frequencies_semantics(tables):
    trips = {t.trip_id: t for t in tables.trips.collect()}
    freqs = {f.trip_id: f for f in tables.frequencies.collect()}
    assert set(trips) == set(freqs)
    for f in freqs.values():
        assert f.start_time == "05:00:00" and f.end_time == "22:00:00"
        assert f.headway_secs % 60 == 0 and f.headway_secs >= 60
    # line 0 has frequency '10' → 600s; 'not_a_number' lines → default 30*60
    headways = {f.headway_secs for f in freqs.values()}
    assert 1800 in headways, "invalid frequency must fall back to 30 min"
    # direction_id alternates within a line (W3)
    for t in trips.values():
        assert t.direction_id in (0, 1)


def test_stop_times_interpolation(tables):
    """W6: first stop 06:00:00, last 06:00+travel, interior equally spaced."""
    rows = tables.stop_times.orderBy("trip_id", "stop_sequence").collect()
    by_trip: dict[str, list] = {}
    for r in rows:
        by_trip.setdefault(r.trip_id, []).append(r)
    assert by_trip
    for trip_id, sts in by_trip.items():
        assert sts[0].arrival_time == "06:00:00"
        assert [s.stop_sequence for s in sts] == list(range(1, len(sts) + 1))
        secs = [
            int(s.arrival_time[0:2]) * 3600 + int(s.arrival_time[3:5]) * 60 + int(s.arrival_time[6:8])
            for s in sts
        ]
        assert secs == sorted(secs), f"non-monotone stop_times in trip {trip_id}"
        # equal spacing by stop count (transitfeed interpolation semantics)
        n = len(secs)
        total = secs[-1] - secs[0]
        for i, s in enumerate(secs):
            assert s == secs[0] + int(total * i / (n - 1))
        assert sts[0].timepoint == 1 and sts[-1].timepoint == 1
        assert all(s.timepoint == 0 for s in sts[1:-1])


def test_shapes_stitched_and_truncation(tables):
    shp = tables.shapes
    assert shp.count() > 0
    # sequences are dense from 0 per shape
    bad = (
        shp.groupBy("shape_id")
        .agg(F.min("shape_pt_sequence").alias("mn"), F.max("shape_pt_sequence").alias("mx"), F.count("*").alias("n"))
        .filter((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1))
    )
    assert bad.count() == 0
    # broken ways (seeded) mean at least one shape truncated below the
    # full 3-way point count (3 ways × 4 pts − 2 shared = 10)
    counts = [r.n for r in shp.groupBy("shape_id").count().withColumnRenamed("count", "n").collect()]
    assert any(c < 10 for c in counts), "shape-stitch break-on-mismatch must trigger"
    assert any(c == 10 for c in counts), "contiguous shapes must stitch fully"


def test_pruning_anti_joins(tables):
    # every surviving stop is referenced by stop_times (P15)
    used = {r.stop_key for r in tables.stop_times.select("stop_key").distinct().collect()}
    have = {r.stop_key for r in tables.stops.select("stop_key").collect()}
    assert have <= used
    # every surviving route has trips (P16)
    troutes = {r.route_id for r in tables.trips.select("route_id").distinct().collect()}
    rroutes = {r.route_id for r in tables.routes.collect()}
    assert rroutes <= troutes


def test_auto_stop_names(spark):
    """J9 name guessing (osm_connector.py:696-785): unnamed stops take
    the closest named feature within 50 m — bus_stop nodes and
    trunk/primary/secondary ways excluded; no candidate → the BARE
    name_without (no brackets)."""
    from osm2gtfs_spark.plans.gtfs import auto_stop_names, build_stops
    from osm2gtfs_spark.sources.docs import DOCS_SCHEMA, _interleave, _tag_spans

    def doc(doc_id, spans):
        s = _interleave(doc_id, spans, 2)
        return (doc_id, [(x["kind"], x["text"], x["media_ref"], x["offset"]) for x in s])

    # ~0.0003 deg lat ≈ 33 m; 0.001 ≈ 111 m
    rows = [
        doc("node/1", [("geom", "0.0,0.0")] + _tag_spans({"highway": "bus_stop"})),
        doc("node/2", [("geom", "0.00030,0.0")] + _tag_spans({"name": "Rua Alfa"})),
        doc("node/3", [("geom", "0.00005,0.0")] + _tag_spans({"name": "Quick Mart", "highway": "bus_stop"})),  # excluded
        doc("node/4", [("geom", "2.0,2.0")] + _tag_spans({"highway": "bus_stop"})),  # isolated
        doc("node/5", [("geom", "0.00010,0.0")] + _tag_spans({"name": "Autobahn", "highway": "trunk"})),  # node trunk NOT excluded (way rule)
    ]
    import osm2gtfs_spark.sources.docs as D

    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    nodes = D.decode_nodes(docs)
    ways = D.decode_ways(docs)
    stops = build_stops(nodes, ways, "Parada sin nombre")
    named = auto_stop_names(stops, nodes, ways, "Parada sin nombre")
    out = {r["stop_key"]: r["name"] for r in named.collect()}
    # node/5 (trunk NODE, 11 m) beats node/2 (33 m): the highway
    # exclusions apply to WAYS; nodes only exclude bus_stop
    assert out["node/1"] == "Autobahn"
    assert out["node/4"] == "Parada sin nombre"  # bare, no brackets


def test_auto_stop_names_construction_runs_no_job(spark):
    """Building the plan starts no Spark job: the ring join's probe (the
    stops, a union with the way-centroid aggregate) holds an exchange,
    so the parallelism floor leaves it as is instead of reading its
    partition count, which would run the shuffle stages."""
    from osm2gtfs_spark.plans.gtfs import auto_stop_names, build_stops
    from osm2gtfs_spark.sources import docs as D

    docs = D.docs_df(spark, D.CitySpec(n_lines=3, with_stop_areas=True))
    nodes, ways = D.decode_nodes(docs), D.decode_ways(docs)
    stops = build_stops(nodes, ways, "stop")
    sc = spark.sparkContext
    sc.setJobGroup("auto_stop_names_construct", "probe")
    try:
        auto_stop_names(stops, nodes, ways, "stop")
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("auto_stop_names_construct") == []


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
    # no table re-plans the decode → stops → trips lineage, and no
    # runner cache is left for validation to scan
    for field in dataclasses.fields(tables):
        df = getattr(tables, field.name)
        if df is not None:
            nodes = _plan_nodes(df)
            assert not nodes & {"Join", "Window", "Aggregate", "InMemoryRelation"}, (field.name, nodes)
    plan = validate_feed(tables)._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan


def test_calendar_runs_no_python_worker(tables):
    # built from JVM expressions, not a Python-side parallelize
    plan = tables.calendar._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    assert tables.calendar.dtypes == [
        ("service_id", "string"),
        *[(d, "int") for d in ("monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday")],
        ("start_date", "string"),
        ("end_date", "string"),
    ]
    assert [tuple(r) for r in tables.calendar.collect()] == [
        ("always", 1, 1, 1, 1, 1, 1, 1, "20240101", "20250101")
    ]
