"""Frequency-path pipeline semantics vs reference behavior.

Count contracts + golden stop_times in the style of the reference's
acceptance tests (``tests/creators/creators_tests.py:124-214``,
``tests_gh_accra.py:15-27``), computed on the deterministic synthetic
city instead of the (unavailable) Overpass fixtures.
"""

from __future__ import annotations

import csv
import dataclasses
import io
import math
import zipfile

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.plans import gtfs
from osm2gtfs_spark.plans.pipeline import run_frequency_pipeline
from osm2gtfs_spark.sources import docs as D
from osm2gtfs_spark.sources.gtfs_sink import validate_feed, write_gtfs_zip


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


def _secs(t: str) -> int:
    h, m, s = t.split(":")
    return int(h) * 3600 + int(m) * 60 + int(s)


def test_stop_times_interpolation(spark, tables):
    """W6: stop_sequence 1..n, first stop 06:00:00, last 06:00 + the
    trip's travel_min, interior stops by cumulative great-circle
    distance (transitfeed radius); no timepoint column, so the zip
    writes it empty."""
    assert "timepoint" not in tables.stop_times.columns
    rels = D.decode_relations(D.docs_df(spark, D.CitySpec(n_lines=6, with_stop_areas=True)))
    travel = {r.trip_id: r.travel_min for r in gtfs.build_trips(*gtfs.build_lines(rels)).collect()}
    coords = {r.stop_id: (r.lat, r.lon) for r in tables.stops.collect()}
    by_trip: dict[str, list] = {}
    for r in tables.stop_times.collect():
        by_trip.setdefault(r.trip_id, []).append(r)
    assert by_trip
    moved = 0
    for trip_id, sts in by_trip.items():
        sts.sort(key=lambda s: int(s.stop_sequence))
        assert [int(s.stop_sequence) for s in sts] == list(range(1, len(sts) + 1)), trip_id
        secs = [_secs(s.arrival_time) for s in sts]
        assert [_secs(s.departure_time) for s in sts] == secs
        assert secs[0] == 6 * 3600 and secs == sorted(secs), trip_id
        assert secs[-1] == 6 * 3600 + travel[trip_id] * 60, trip_id
        total = secs[-1] - secs[0]
        cum = [0.0]
        for a, b in zip(sts, sts[1:]):
            cum.append(cum[-1] + _haversine(*coords[a.stop_id], *coords[b.stop_id]))
        for i, got in enumerate(secs):
            want = secs[0] + total * cum[i] / cum[-1]
            assert abs(got - want) <= 1, (trip_id, i, got, want)
            moved += got != secs[0] + int(total * i / (len(secs) - 1))
    assert moved, "no stop is timed off the count spacing"


def _haversine(lat1, lon1, lat2, lon2, radius=6367000.0):
    a = (
        math.sin(math.radians(lat2 - lat1) / 2) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2)) * math.sin(math.radians(lon2 - lon1) / 2) ** 2
    )
    return 2 * radius * math.asin(math.sqrt(a))


def test_frequency_pipeline_matches_accra(spark, tables):
    """One city through the docs frequency pipeline and the Accra
    selector (the same docs as stops and routes) gives, per itinerary
    and stop_sequence, the same trip id and arrival time: both use
    ``gtfs.build_trips`` and ``gtfs.interpolated_stop_times``. Stop ids
    differ by design: P11 against the bare osm_id."""
    from osm2gtfs_spark.plans.accra import build_accra_tables

    docs = D.docs_df(spark, D.CitySpec(n_lines=6, with_stop_areas=True))
    accra = build_accra_tables(docs, docs)

    def timetable(t, itinerary):
        shapes = {r.trip_id: itinerary(r.shape_id) for r in t.trips.collect()}
        return {
            (shapes[r.trip_id], int(r.stop_sequence)): (r.trip_id, r.arrival_time)
            for r in t.stop_times.collect()
        }

    freq = timetable(tables, lambda shape_id: int(shape_id.removeprefix("relation/")))
    assert freq and freq == timetable(accra, int)


def test_unresolved_members_and_one_stop_trips(spark, tmp_path):
    """A member that is not a stop (its node is outside the extract)
    writes no stop_times row and leaves a gap in stop_sequence. A trip
    with fewer than two resolved stops is dropped from trips.txt and
    frequencies.txt, and a route left without trips from routes.txt;
    the kept trips keep their ids. The zip's references hold."""
    docs = D.docs_df(spark, D.CitySpec(n_lines=6))
    rels = D.decode_relations(docs)
    lines, itins = gtfs.build_lines(rels)
    members: dict[int, list[str]] = {}
    for r in gtfs.itinerary_stops(rels).orderBy("pos").collect():
        members.setdefault(r.itinerary_osm_id, []).append(r.stop_key)
    by_line: dict[int, list[int]] = {}
    for r in itins.orderBy("itinerary_osm_id").collect():
        by_line.setdefault(r.line_osm_id, []).append(r.itinerary_osm_id)
    (_, dead), (_, (gap, *_)) = sorted(by_line.items())[:2]
    # every itinerary of one line keeps one stop; another drops a middle one
    drop = {k for i in dead for k in members[i][1:]} | {members[gap][1]}
    out = run_frequency_pipeline(docs.filter(~F.col("doc_id").isin(sorted(drop))))
    every = {r.itinerary_osm_id: r for r in gtfs.build_trips(lines, itins).collect()}
    trips = {r.trip_id: r for r in out.trips.collect()}
    assert set(trips) == {t.trip_id for i, t in every.items() if i not in dead}
    assert {r.trip_id for r in out.frequencies.collect()} == set(trips)
    routes = {r.route_id for r in out.routes.collect()}
    assert every[dead[0]].route_id not in routes and routes == {t.route_id for t in trips.values()}
    seqs: dict[str, list[int]] = {}
    for r in out.stop_times.collect():
        seqs.setdefault(r.trip_id, []).append(int(r.stop_sequence))
    assert set(seqs) == set(trips)
    want = [p + 1 for p, k in enumerate(members[gap]) if k != members[gap][1]]
    assert sorted(seqs[every[gap].trip_id]) == want and 2 not in want
    checks = {r.check: r.n_bad for r in validate_feed(out).collect()}
    assert not any(checks.values()), checks
    path = write_gtfs_zip(out, str(tmp_path / "feed.zip"))
    with zipfile.ZipFile(path) as z:
        read = {n: list(csv.DictReader(io.StringIO(z.read(n).decode("utf-8")))) for n in z.namelist()}
    assert {r["trip_id"] for r in read["stop_times.txt"]} == {r["trip_id"] for r in read["trips.txt"]}
    assert {r["stop_id"] for r in read["stop_times.txt"]} <= {r["stop_id"] for r in read["stops.txt"]}


def test_prune_unused_stops_by_key(spark):
    """P15 prunes on the unique stop_key: of two stops sharing a ``ref``
    (so one P11 stop_id), the one no trip visits goes."""
    stops = spark.createDataFrame(
        [("node/1", "P7"), ("node/2", "P7"), ("node/3", "node/3")], "stop_key string, stop_id string"
    )
    stop_times = spark.createDataFrame([("0", "P7", "node/1")], "trip_id string, stop_id string, stop_key string")
    assert [r.stop_key for r in gtfs.prune_unused_stops(stops, stop_times).collect()] == ["node/1"]


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
    used = {r.stop_id for r in tables.stop_times.select("stop_id").distinct().collect()}
    have = {r.stop_id for r in tables.stops.select("stop_id").collect()}
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
