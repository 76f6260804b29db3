"""The stage walk in ``catalog=None`` runs: pool joins, no caches, and
builders that read finished stages.

Every stage runs as a future in one pool and is stored once as an eager
local checkpoint; no stage is cached. When a build or a checkpoint
fails, the original error must propagate, no job thread may outlive the
call (a caller may stop the context right after), and no cache may stay
behind. Frames the caller cached are left alone. Each builder receives
stored stages (leaf scans), never a lazily re-planned lineage.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.plans import gtfs, pipeline
from osm2gtfs_spark.sources import docs as D


def _boom(*args, **kwargs):
    raise RuntimeError("boom")


def _run_and_fail(run, docs, error=RuntimeError):
    before = set(threading.enumerate())
    with pytest.raises(error, match="boom"):
        run(docs)
    return [t for t in threading.enumerate() if t not in before]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_frequency_trip_failure_joins_warm_thread(spark, monkeypatch):
    monkeypatch.setattr(gtfs, "build_trips", _boom)
    docs = D.docs_df(spark, D.CitySpec(n_lines=2, with_stop_areas=True))
    assert _run_and_fail(pipeline.run_frequency_pipeline, docs) == []


def test_schedule_trip_failure_joins_warm_thread(spark, monkeypatch):
    monkeypatch.setattr(pipeline, "_schedule_trips_full", _boom)
    docs = D.docs_df(spark, D.CitySpec(n_lines=2, with_stop_areas=True, with_schedule=True))
    assert _run_and_fail(pipeline.run_schedule_pipeline, docs) == []


def test_output_failure_joins_pool_and_drops_caches(spark, monkeypatch):
    # the error surfaces in the stage pool, while other stages'
    # checkpoint jobs are still running
    monkeypatch.setattr(
        gtfs, "build_frequencies",
        lambda trips: trips.select(F.raise_error(F.lit("boom")).alias("trip_id")),
    )
    spark.catalog.clearCache()
    docs = D.docs_df(spark, D.CitySpec(n_lines=2, with_stop_areas=True))
    assert _run_and_fail(pipeline.run_frequency_pipeline, docs, error=Exception) == []
    assert _cache_empty(spark)


@pytest.mark.parametrize(
    "run, spec",
    [
        (pipeline.run_frequency_pipeline, D.CitySpec(n_lines=2, with_stop_areas=True)),
        (
            pipeline.run_schedule_pipeline,
            D.CitySpec(n_lines=2, with_stop_areas=True, with_schedule=True),
        ),
    ],
    ids=["frequency", "schedule"],
)
def test_runner_drops_its_caches(spark, run, spec):
    spark.catalog.clearCache()
    tables = run(D.docs_df(spark, spec))
    assert _cache_empty(spark)
    assert tables.stop_times.count() > 0  # outputs outlive the caches

    docs = D.docs_df(spark, spec).cache()
    run(docs)
    assert docs.storageLevel.useMemory  # the caller's cache is kept
    docs.unpersist()
    assert _cache_empty(spark)


def _plan_nodes(df) -> set[str]:
    """Node names of ``df``'s optimized logical plan."""
    names, todo = set(), [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        names.add(node.nodeName())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return names


@pytest.mark.parametrize(
    "run, spec",
    [
        (pipeline.run_frequency_pipeline, D.CitySpec(n_lines=2, with_stop_areas=True)),
        (
            pipeline.run_schedule_pipeline,
            D.CitySpec(n_lines=2, with_stop_areas=True, with_schedule=True),
        ),
    ],
    ids=["frequency", "schedule"],
)
def test_builders_read_stored_stages(spark, monkeypatch, run, spec):
    received: dict[str, list] = {}
    outputs = pipeline.Stage.outputs

    def recording(self, frames):
        received[self.names[0]] = frames
        return outputs(self, frames)

    monkeypatch.setattr(pipeline.Stage, "outputs", recording)
    run(D.docs_df(spark, spec))
    assert any(name.endswith("stops_final") for name in received)
    for stage, frames in received.items():
        for i, df in enumerate(frames):
            nodes = _plan_nodes(df)
            assert not nodes & {"Join", "Aggregate", "Window", "InMemoryRelation"}, (stage, i, nodes)
