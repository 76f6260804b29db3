"""The one AvailableNow drain in the engine: every bounded streaming
run goes through :func:`drain_available_now` — the foreachBatch ingests
(tile partials, CDC deltas, near-dup admits) and the memory-sink runs
of :func:`osm2gtfs_spark.streaming.events.run_available_now` alike.

A timed-out drain must NOT return as if complete: the caller would
read half-written state or start a second query against the same
checkpoint, so the query is stopped and a TimeoutError raised."""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter


def drain_available_now(
    writer: DataStreamWriter,
    checkpoint_dir: str,
    timeout_sec: int,
    label: str,
) -> None:
    """Drain the configured ``writer`` (its foreachBatch body, or its
    format and output mode) once, resuming from ``checkpoint_dir``."""
    q = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(f"{label} drain exceeded {timeout_sec}s; stopped")
