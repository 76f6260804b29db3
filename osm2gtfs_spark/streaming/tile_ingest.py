"""Incremental tile-pyramid maintenance: the resumable-tiling half of
the north rule ("the job resumes mid-tiling without recomputation") as
a streaming ingest.

Design: tile counts are ADDITIVE, so unlike the near-dup ingest
(``streaming/ingest.py``, whose admission decision must read the
accumulated state) each micro-batch is self-contained — it aggregates
its OWN points into pyramid partials
(:func:`~osm2gtfs_spark.operators.spatial.cell_pyramid` over the batch)
and writes them as its own ``_batch_id`` partition
(:func:`~osm2gtfs_spark.sources.checkpoint.write_partitioned`).
That makes replay idempotency trivial (a replayed batch overwrites its
own partition with the identical recomputation — no self-exclusion
dance needed), the per-batch write is the per-partition lineage log the
north rule asks for, and ingest never rescans history. The current
pyramid is one merging aggregate over the partials at read time;
long-running feeds periodically fold old partitions into a snapshot via
:func:`compact_state` so the read-side merge stays O(snapshot + recent
batches).

This is the streaming twin of the classic partial-aggregate /
delta-compaction layout (what an Iceberg MERGE-on-read table does for
additive metrics), expressed with the engine's own operators.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2gtfs_spark.functions.geo import cell_id
from osm2gtfs_spark.operators.spatial import cell_pyramid
from osm2gtfs_spark.sources.checkpoint import read_if_exists, write_partitioned
from osm2gtfs_spark.streaming.drain import drain_available_now

_TILES_SCHEMA = T.StructType(
    [
        T.StructField("res", T.LongType()),
        T.StructField("cell_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("_batch_id", T.IntegerType()),
    ]
)


def _tiles_path(state_dir: str) -> str:
    return os.path.join(state_dir, "tiles")


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    res_fine: int,
    res_coarse: int = 0,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> None:
    """One micro-batch: aggregate the batch's points to the finest
    level, ladder them into pyramid partials, and write the partials as
    this batch's partition, replacing only that partition (idempotent
    replay, whatever the session's overwrite mode). Module-level so
    replay idempotency is directly testable."""
    counts = batch_df.groupBy(
        cell_id(lat_col, lon_col, res_fine).alias("cell_id")
    ).agg(F.count(F.lit(1)).alias("n"))
    partials = cell_pyramid(counts, res_fine=res_fine, res_coarse=res_coarse)
    write_partitioned(partials.withColumn("_batch_id", F.lit(batch_id)), _tiles_path(state_dir))


def read_pyramid(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """The CURRENT pyramid: one merging aggregate over all partials
    (None before the first drain). Schema-explicit and
    filesystem-agnostic (zero-row partition dirs read as empty frames)."""
    partials = read_if_exists(spark, _tiles_path(state_dir), _TILES_SCHEMA)
    if partials is None:
        return None
    return partials.groupBy("res", "cell_id").agg(F.sum("n").alias("n"))


def compact_state(spark: SparkSession, state_dir: str, snapshot_dir: str) -> None:
    """Fold every partial into one snapshot table at ``snapshot_dir``
    (a NEW directory — never rewrite live state in place on an object
    store). A long-running feed points new ingest at a fresh state dir
    seeded by the snapshot; reads union both."""
    merged = read_pyramid(spark, state_dir)
    if merged is None:
        raise ValueError(f"no tile state under {state_dir}")
    write_partitioned(merged.withColumn("_batch_id", F.lit(-1)), _tiles_path(snapshot_dir))


def tile_ingest_available_now(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    res_fine: int,
    res_coarse: int = 0,
    lat_col: str = "lat",
    lon_col: str = "lon",
    timeout_sec: int = 600,
) -> None:
    """Drain the bounded point source, writing per-batch pyramid
    partials. Restartable: the stream checkpoint skips processed files
    and a replayed batch overwrites its own partition with an identical
    recomputation (additive partials need no state read at all)."""
    process = partial(
        process_batch,
        state_dir=state_dir,
        res_fine=res_fine,
        res_coarse=res_coarse,
        lat_col=lat_col,
        lon_col=lon_col,
    )
    drain_available_now(
        stream_df.writeStream.foreachBatch(process), checkpoint_dir, timeout_sec, "tile ingest"
    )
