"""In-memory stage runner: a failed build joins the stop-side warm thread.

The runner warms the stop-side caches on a background thread while the
foreground builds the trip side. When the foreground fails, the original
error must propagate and no warm job may outlive the call (a caller may
stop the context right after).
"""

from __future__ import annotations

import threading

import pytest

from osm2gtfs_spark.plans import gtfs, pipeline
from osm2gtfs_spark.sources import docs as D


def _boom(*args, **kwargs):
    raise RuntimeError("boom")


def _run_and_fail(run, docs):
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="boom"):
        run(docs)
    return [t for t in threading.enumerate() if t not in before]


def test_frequency_trip_failure_joins_warm_thread(spark, monkeypatch):
    monkeypatch.setattr(gtfs, "build_trips", _boom)
    docs = D.docs_df(spark, D.CitySpec(n_lines=2, with_stop_areas=True))
    assert _run_and_fail(pipeline.run_frequency_pipeline, docs) == []


def test_schedule_trip_failure_joins_warm_thread(spark, monkeypatch):
    monkeypatch.setattr(pipeline, "_schedule_trips_full", _boom)
    docs = D.docs_df(spark, D.CitySpec(n_lines=2, with_stop_areas=True, with_schedule=True))
    assert _run_and_fail(pipeline.run_schedule_pipeline, docs) == []
