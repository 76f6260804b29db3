"""Shared AvailableNow drain protocol for the foreachBatch ingest
family (tile partials, CDC deltas, near-dup admits) — one copy of the
trigger/timeout/stop contract (review r5c: two verbatim copies had
already diverged risk-wise).

A timed-out drain must NOT return as if complete: the caller would
read half-written state or start a second query against the same
checkpoint, so the query is stopped and a TimeoutError raised."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def drain_available_now(
    stream_df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    timeout_sec: int,
    label: str,
) -> None:
    q = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if not finished:
        q.stop()
        raise TimeoutError(f"{label} drain exceeded {timeout_sec}s; stopped")
