"""Checkpoint/resume: one stage record, manifest-gated recompute.

North-rule behaviors: (a) resume skips complete stages, (b) a killed
job (data without manifest) is detected and recomputed, (c) resumed
output is identical, (d) manifests carry the write job's row count and
checksum and each file's footer row count, (e) a stage written by other
code (another builder, another ``name_without``) is rebuilt, never
read, and (f) recording a stage adds no Spark job and resuming one
starts none.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from osm2gtfs_spark.plans import abidjan, accra, default_city, florianopolis, gtfs, pipeline
from osm2gtfs_spark.plans.pipeline import run_frequency_pipeline
from osm2gtfs_spark.sources import docs as D
from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog, fingerprint


@pytest.fixture()
def catalog(spark, tmp_path):
    return CheckpointCatalog(spark, str(tmp_path / "ckpt"))


def _rows(df):
    return sorted(map(str, df.collect()))


def _complete(catalog, stage: str) -> bool:
    """``stage`` of the frequency graph is complete for its current builder."""
    build = next(st.build for st in pipeline._frequency_stages() if stage in st.names)
    return catalog.is_complete(stage, fingerprint(build))


def test_full_run_then_resume_identical(spark, catalog):
    docs = D.docs_df(spark, D.CitySpec(n_lines=3))
    t1 = run_frequency_pipeline(docs, catalog=catalog)
    st1 = _rows(t1.stop_times)
    snaps1 = {m["stage"]: m["snapshot_id"] for m in catalog.metrics()}
    assert _complete(catalog, "stop_times") and _complete(catalog, "nodes")

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
    assert not _complete(catalog, "trips")
    t = run_frequency_pipeline(docs, catalog=catalog)
    assert _complete(catalog, "trips")
    assert t.trips.count() > 0


def test_missing_stage_data_rebuilt(spark, catalog):
    """A manifest whose data directory is gone is not a complete stage."""
    import shutil

    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    run_frequency_pipeline(docs, catalog=catalog)
    snap = catalog.manifest("trips")["snapshot_id"]
    shutil.rmtree(catalog._data_path("trips"))
    assert not _complete(catalog, "trips")
    t = run_frequency_pipeline(docs, catalog=catalog)
    assert _complete(catalog, "trips")
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
    assert not _complete(catalog, "nodes")

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
    catalog.run_stage("relations", lambda: D.decode_relations(docs), ["docs"], D.decode_relations)

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
    assert st["inputs"] == ["trips", "itin_stops", "stops"]
    assert st["row_count"] == sum(f["rows"] for f in st["files"].values()) > 0
    assert [f["name"] for f in st["schema"]["fields"]] == catalog.read("stop_times").columns
    # the checksum is the data's, not the run's: a second cold build agrees
    other = CheckpointCatalog(spark, str(tmp_path / "ckpt2"))
    run_frequency_pipeline(docs, catalog=other)
    assert other.manifest("stop_times")["checksum"] == st["checksum"] is not None

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


def _freq_names() -> set[str]:
    return {n for st in pipeline._frequency_stages() for n in st.names}


def test_changed_name_without_rebuilds_stops(spark, catalog):
    """A stage built with another ``name_without`` is not resumed: the
    stops stage and everything built from it rebuild, the rest resumes."""
    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    run_frequency_pipeline(docs, catalog=catalog)
    snaps1 = _snaps(catalog)
    run_frequency_pipeline(docs, name_without="halt", catalog=catalog)
    snaps2 = _snaps(catalog)
    rebuilt = set(pipeline.downstream(["stops"])) & _freq_names()
    assert {"stops", "stations", "parent_map", "stops_final"} <= rebuilt
    for stage in rebuilt:
        assert snaps2[stage] != snaps1[stage], f"{stage} must be rebuilt"
    for stage in _freq_names() - rebuilt:
        assert snaps2[stage] == snaps1[stage], f"{stage} must be reused"
    assert {"nodes", "ways", "relations", "lines", "itineraries", "itin_stops", "trips"} <= _freq_names() - rebuilt


def _narrow_trips(lines, itineraries):
    return gtfs.build_trips(lines, itineraries).drop("trip_headsign")


def test_stage_from_other_code_rebuilt_not_read(spark, catalog):
    """A stage stored under the current name by another builder, with a
    narrower schema, is rebuilt: downstream never reads its data."""
    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    want = _rows(run_frequency_pipeline(docs, catalog=catalog).trips)
    catalog.invalidate("trips")
    lines, itins = catalog.read("lines"), catalog.read("itineraries")
    catalog.run_stage(
        "trips", lambda: _narrow_trips(lines, itins), ["lines", "itineraries"], _narrow_trips
    )
    assert "trip_headsign" not in catalog.read("trips").columns
    forged = catalog.manifest("trips")["snapshot_id"]

    t = run_frequency_pipeline(docs, catalog=catalog)
    assert _rows(t.trips) == want
    m = catalog.manifest("trips")
    assert m["snapshot_id"] != forged and m["fingerprint"] == fingerprint(gtfs.build_trips)
    assert "trip_headsign" in catalog.read("trips").columns


def _stage_tables():
    return {
        "frequency": pipeline._frequency_stages(),
        "schedule": pipeline._schedule_stages(),
        "accra": accra.stages(),
        "abidjan": abidjan.stages(),
        "florianopolis": florianopolis.stages(),
        "default_city": default_city.stages(),
    }


def test_stage_fingerprints_are_stable():
    """Every declared stage fingerprints (no builder closes over an
    object), fresh lambdas of one table agree, another process agrees,
    and a changed closure value changes the fingerprint."""
    first, second = _stage_tables(), _stage_tables()
    fps = {k: [fingerprint(st.build) for st in t] for k, t in first.items()}
    assert fps == {k: [fingerprint(st.build) for st in t] for k, t in second.items()}
    assert first["frequency"][3].build is not second["frequency"][3].build
    assert len(set(fps["frequency"])) == len(fps["frequency"])

    probe = "from osm2gtfs_spark.plans import pipeline as p; from osm2gtfs_spark.sources.checkpoint import fingerprint as f; print(f(p._frequency_stages()[3].build))"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True, cwd=repo,
        env={**os.environ, "PYTHONHASHSEED": "7", "PYTHONPATH": repo},
    )
    assert out.stdout.strip() == fps["frequency"][3]

    assert fingerprint(pipeline._frequency_stages("halt")[3].build) != fps["frequency"][3]
    windows = [st for st in abidjan.stages({"sunrise": "05:30"}) if st.names == ("abidjan_windows",)]
    assert fingerprint(windows[0].build) not in fps["abidjan"]
    obj = object()
    with pytest.raises(TypeError):
        fingerprint(lambda: obj)


def _void():
    pass


def test_empty_stage_resumes_with_schema(spark, catalog):
    """An empty stage is one schema-only part file: it resumes, and
    reads back with its schema."""
    empty = spark.createDataFrame([], "tile string, v int")
    out, resumed = catalog.run_stage("void", lambda: empty, [], _void)
    assert not resumed and out.count() == 0 and out.schema == empty.schema
    m = catalog.manifest("void")
    assert m["row_count"] == 0 and [f["rows"] for f in m["files"].values()] == [0]
    again, resumed = catalog.run_stage("void", lambda: pytest.fail("rebuilt"), [], _void)
    assert resumed and again.count() == 0 and again.schema == empty.schema


def _new_jobs(spark, run) -> set[int]:
    """Ids of the jobs ``run`` starts. Stage threads carry no job group,
    so these are the ungrouped job ids that appear during the run."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    run()
    return set(tracker.getJobIdsForGroup(None)) - before


def test_stage_record_adds_no_job(spark, catalog):
    """Writing a stage is one job: the metrics ride on the write, and
    reading it back infers no schema."""
    ids = spark.range(0, 1000, 1, 4)
    jobs = _new_jobs(spark, lambda: catalog.run_stage("ids", lambda: ids, [], _void))
    assert len(jobs) == 1
    assert catalog.manifest("ids")["row_count"] == 1000


def test_resume_starts_no_job(spark, catalog):
    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    run_frequency_pipeline(docs, catalog=catalog)
    assert _new_jobs(spark, lambda: run_frequency_pipeline(docs, catalog=catalog)) == set()
