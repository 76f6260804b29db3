"""Checkpoint/resume: per-partition lineage, manifest-gated recompute.

North-rule behaviors: (a) resume skips complete stages, (b) a killed
job (data without manifest) is detected and recomputed, (c) resumed
output is identical, (d) manifests carry per-partition rows+checksums.
"""

from __future__ import annotations

import os

import pytest

from osm2gtfs_spark.plans import pipeline
from osm2gtfs_spark.plans.pipeline import run_frequency_pipeline
from osm2gtfs_spark.sources import docs as D
from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return CheckpointCatalog(spark, str(tmp_path / "ckpt"))


def _rows(df):
    return sorted(map(str, df.collect()))


def test_full_run_then_resume_identical(spark, catalog):
    docs = D.docs_df(spark, D.CitySpec(n_lines=3))
    t1 = run_frequency_pipeline(docs, catalog=catalog)
    st1 = _rows(t1.stop_times)
    snaps1 = {m["stage"]: m["snapshot_id"] for m in catalog.metrics()}
    assert catalog.is_complete("stop_times") and catalog.is_complete("nodes")

    # simulate mid-job kill: drop two late stages, resume
    catalog.invalidate("stop_times")
    catalog.invalidate("stops_final")
    t2 = run_frequency_pipeline(docs, catalog=catalog)
    st2 = _rows(t2.stop_times)
    snaps2 = {m["stage"]: m["snapshot_id"] for m in catalog.metrics()}

    assert st1 == st2, "resumed output must be identical"
    # untouched stages were NOT recomputed (same snapshot), killed ones were
    for stage in ["nodes", "ways", "relations", "trips", "shapes"]:
        assert snaps1[stage] == snaps2[stage], f"{stage} must be reused"
    assert snaps1["stop_times"] != snaps2["stop_times"]


def test_incomplete_stage_detected(spark, catalog):
    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    run_frequency_pipeline(docs, catalog=catalog)
    # a crash between data write and manifest write leaves no manifest
    os.remove(catalog._manifest_path("trips"))
    assert not catalog.is_complete("trips")
    t = run_frequency_pipeline(docs, catalog=catalog)
    assert catalog.is_complete("trips")
    assert t.trips.count() > 0


def test_missing_stage_data_rebuilt(spark, catalog):
    """A manifest whose data directory is gone is not a complete stage."""
    import shutil

    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    run_frequency_pipeline(docs, catalog=catalog)
    snap = catalog.manifest("trips")["snapshot_id"]
    shutil.rmtree(catalog._data_path("trips"))
    assert not catalog.is_complete("trips")
    t = run_frequency_pipeline(docs, catalog=catalog)
    assert catalog.is_complete("trips")
    assert catalog.manifest("trips")["snapshot_id"] != snap
    assert t.trips.count() > 0


def _snaps(catalog) -> dict[str, str]:
    return {m["stage"]: m["snapshot_id"] for m in catalog.metrics()}


def test_truncated_stage_rebuilt(spark, catalog):
    """A stage that lost one data file after its commit is rebuilt, and
    so is every stage built from it."""
    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    run_frequency_pipeline(docs, catalog=catalog)
    snaps1, rows = _snaps(catalog), catalog.manifest("nodes")["row_count"]
    data = catalog._data_path("nodes")
    parts = [f for f in os.listdir(data) if f.startswith("part-")]
    assert len(parts) > 1
    os.remove(os.path.join(data, max(parts, key=lambda f: os.path.getsize(os.path.join(data, f)))))
    assert not catalog.is_complete("nodes")

    run_frequency_pipeline(docs, catalog=catalog)
    snaps2 = _snaps(catalog)
    assert catalog.read("nodes").count() == rows
    for stage in ("nodes", "stops", "stations", "shapes", "stops_final"):
        assert snaps2[stage] != snaps1[stage], f"{stage} must be rebuilt"
    for stage in ("ways", "relations", "lines", "trips"):
        assert snaps2[stage] == snaps1[stage], f"{stage} must be reused"


def test_rebuilt_input_invalidates_dependants(spark, catalog):
    """An input stage rebuilt on its own (new snapshot) is not silently
    paired with dependants built from its old snapshot."""
    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    run_frequency_pipeline(docs, catalog=catalog)
    snaps1 = _snaps(catalog)
    catalog.invalidate("relations")
    catalog.run_stage("relations", lambda: D.decode_relations(docs), ["docs"])

    run_frequency_pipeline(docs, catalog=catalog)
    snaps2 = _snaps(catalog)
    for stage in ("lines", "itineraries", "itin_stops", "stations", "shapes", "trips"):
        assert snaps2[stage] != snaps1[stage], f"{stage} must be rebuilt"
    for stage in ("nodes", "ways", "stops"):
        assert snaps2[stage] == snaps1[stage], f"{stage} must be reused"


def test_manifest_lineage_metrics(spark, catalog, tmp_path):
    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    run_frequency_pipeline(docs, catalog=catalog)
    ms = {m["stage"]: m for m in catalog.metrics()}
    st = ms["stop_times"]
    assert st["inputs"] == ["trips", "itin_stops"]
    assert st["row_count"] == sum(p["rows"] for p in st["partitions"])
    assert all("checksum" in p for p in st["partitions"])
    assert st["row_count"] > 0 and st["schema"].startswith("struct<")

    # every stage's manifest inputs are its declared deps, on both pipelines
    sched_catalog = CheckpointCatalog(spark, str(tmp_path / "sched_ckpt"))
    sched_docs = D.docs_df(spark, D.CitySpec(n_lines=2, with_schedule=True))
    pipeline.run_schedule_pipeline(sched_docs, catalog=sched_catalog)
    for cat, stages in (
        (catalog, pipeline._frequency_stages()),
        (sched_catalog, pipeline._schedule_stages()),
    ):
        declared = {name: list(s.deps) for s in stages for name in s.names}
        assert {m["stage"]: m["inputs"] for m in cat.metrics()} == declared


def test_partlog_path_chars_and_empty_stage(spark, tmp_path):
    """ADVICE r2: partition values containing path-reserved characters
    must not escape the partlog dir, and a first run whose output is
    empty must return an empty frame, not fail on a missing path."""
    import os

    from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog
    from pyspark.sql import functions as F

    cat = CheckpointCatalog(spark, str(tmp_path / "ckpt"))
    df = spark.createDataFrame(
        [("a/../..", 1), ("plain", 2)], "tile string, v int"
    )
    out = cat.run_partitioned_stage("weird", lambda: df, "tile")
    assert {(r.tile, r.v) for r in out.collect()} == {("a/../..", 1), ("plain", 2)}
    logdir = str(tmp_path / "ckpt" / "weird" / "partlog")
    names = set(os.listdir(logdir))
    # percent-encoding leaves no raw separators, so every record stays a
    # direct child of partlog/ (".." without a slash is a plain filename)
    assert names == {"a%2F..%2F...json", "plain.json"}
    # resume skips both committed values (keyed by record body, not filename)
    assert set(cat.committed_partitions("weird")) == {"a/../..", "plain"}

    empty = spark.createDataFrame([], "tile string, v int")
    out2 = cat.run_partitioned_stage("void", lambda: empty, "tile")
    assert out2.count() == 0 and out2.schema == empty.schema


def test_mid_tiling_partition_resume(spark, tmp_path):
    """North rule: a killed tiling job resumes at PARTITION granularity —
    only the cells missing from the partition log are recomputed."""
    import os
    import shutil

    from osm2gtfs_spark.functions.geo import cell_id
    from osm2gtfs_spark.operators.spatial import tile_coverage
    from osm2gtfs_spark.sources import tpch
    from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog
    from pyspark.sql import functions as F

    cat = CheckpointCatalog(spark, str(tmp_path / "ckpt"))
    sf = "/root/testdata/sf0.001"

    def tiling():
        return tile_coverage(tpch.stops(spark, sf), res=3)

    full = cat.run_partitioned_stage("tiles", tiling, "cell_id")
    want = {(r.cell_id, r.n_points) for r in tiling().collect()}
    assert {(r.cell_id, r.n_points) for r in full.collect()} == want

    log1 = cat.committed_partitions("tiles")
    assert set(log1) == {str(c) for c, _ in want}

    # simulate a mid-tiling kill: two cells lose their commit record
    # (and one also its data — a half-written partition)
    victims = sorted(log1)[:2]
    for v in victims:
        os.remove(str(tmp_path / "ckpt" / "tiles" / "partlog" / f"{v}.json"))
    shutil.rmtree(
        str(tmp_path / "ckpt" / "tiles" / "data" / f"cell_id={victims[0]}"),
        ignore_errors=True,
    )

    resumed = cat.run_partitioned_stage("tiles", tiling, "cell_id")
    assert {(r.cell_id, r.n_points) for r in resumed.collect()} == want

    log2 = cat.committed_partitions("tiles")
    # survivors keep their original snapshot (NOT recomputed); victims got a new one
    for v, rec in log1.items():
        if v in victims:
            assert log2[v]["snapshot_id"] != rec["snapshot_id"]
        else:
            assert log2[v]["snapshot_id"] == rec["snapshot_id"]
        assert log2[v]["rows"] == rec["rows"]
        assert log2[v]["checksum"] == rec["checksum"]


def test_empty_stage_marker_readable(spark, tmp_path):
    """ADVICE r3: an empty first run must commit a readable zero-row
    marker (manifest with schema) so catalog.read(stage) by another
    caller works and the stage shows in metrics(); a later run with
    real data replaces the marker."""
    from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog

    cat = CheckpointCatalog(spark, str(tmp_path / "ckpt"))
    empty = spark.createDataFrame([], "tile string, v int")
    out = cat.run_partitioned_stage("void2", lambda: empty, "tile")
    assert out.count() == 0

    back = cat.read("void2")  # a DIFFERENT caller reading the stage
    assert back.count() == 0 and back.schema == empty.schema
    assert "void2" in {m["stage"] for m in cat.metrics()}
    assert cat.is_complete("void2")

    # review r4: a plain re-run of the still-empty stage keeps the
    # committed marker (stable snapshot id), like non-empty partitions
    snap1 = cat.manifest("void2")["snapshot_id"]
    out_again = cat.run_partitioned_stage("void2", lambda: empty, "tile")
    assert out_again.count() == 0
    assert cat.manifest("void2")["snapshot_id"] == snap1

    df = spark.createDataFrame([("t", 1)], "tile string, v int")
    out2 = cat.run_partitioned_stage("void2", lambda: df, "tile")
    assert out2.count() == 1
    # marker manifest dropped once data exists (partlog tracks completion)
    assert cat.manifest("void2") is None
    assert cat.read("void2").count() == 1
