"""CDC upsert/delete ingest: Iceberg-style MERGE semantics on plain
parquet — the third ingest shape in the engine's streaming family:

- ``streaming/tile_ingest.py``  — ADDITIVE partials (counts merge);
- ``streaming/ingest.py``       — ADMISSION (near-dup gatekeeping);
- this module                   — KEYED LATEST-WINS (OSM changesets:
  create/modify = upsert, delete = tombstone).

The reference consumes OSM snapshots; a production feed consumes OSM
DIFFS. ``apply_changeset`` is the batch MERGE (one anti join + one
union — the plain-DataFrame expression of ``MERGE INTO``), and the
streaming path writes each micro-batch's changes as its own DELTA
partition under ``_batch_id``
(:func:`~osm2gtfs_spark.sources.checkpoint.write_partitioned`) — the
same merge-on-read layout an Iceberg table uses for row-level deletes:

- replay idempotency is structural (a replayed batch overwrites its
  own partition; no read-modify-write of live state);
- ``read_snapshot`` resolves base ⊎ deltas by per-key max(struct(
  batch, seq)) then drops tombstones — one combine-friendly aggregate,
  never a window over history;
- ``compact_snapshot`` folds base + deltas into a new base directory
  (merge-on-read → copy-on-write compaction), bounding read-side work.

Within one batch, ``seq`` orders changes to the same key (last change
wins — OSM changeset semantics); across batches, ``_batch_id`` orders.
EQUAL-seq changes to one key are malformed input; the election then
falls through the struct comparator to the op string ('upsert' >
'delete') and then the payload — deterministic but arbitrary, so feeds
must keep (key, seq) unique per batch (documented rather than detected:
detection would cost an extra aggregate on every batch).
All arithmetic integer/string — oracle bit-exact.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2gtfs_spark.sources.checkpoint import read_if_exists, write_partitioned
from osm2gtfs_spark.streaming.drain import drain_available_now

UPSERT = "upsert"
DELETE = "delete"


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    key_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Batch MERGE: the snapshot after applying ``changes`` to ``base``.

    ``changes``: base's columns plus ``op`` (``upsert``/``delete``) and
    ``seq`` (intra-changeset order; the LAST change to a key wins, as
    in an OSM changeset). Plan: elect each key's final change with one
    max(struct) aggregate (map-side combined), anti-join base on
    changed keys, union the upsert payloads — two shuffles keyed by
    ``key_col``, no windows over base, base never rewritten per
    change."""
    payload = [c for c in base.columns]
    final = (
        changes.groupBy(key_col)
        .agg(
            F.max(
                F.struct(
                    F.col(seq_col).alias("s"),
                    F.col(op_col).alias("op"),
                    *[F.col(c).alias(f"p_{c}") for c in payload if c != key_col],
                )
            ).alias("_f")
        )
    )
    untouched = base.join(final.select(key_col), key_col, "left_anti")
    upserts = final.filter(F.col("_f.op") == UPSERT).select(
        key_col,
        *[F.col(f"_f.p_{c}").alias(c) for c in payload if c != key_col],
    )
    return untouched.unionByName(upserts.select(*payload))


def _deltas_path(state_dir: str) -> str:
    return os.path.join(state_dir, "deltas")


def _delta_schema(base: DataFrame, seq_col: str, op_col: str) -> T.StructType:
    return T.StructType(
        list(base.schema.fields)
        + [
            T.StructField(seq_col, T.LongType()),
            T.StructField(op_col, T.StringType()),
            T.StructField("_batch_id", T.IntegerType()),
        ]
    )


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    base_columns: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """One micro-batch: write the batch's changes as its own DELTA
    partition, replacing only that partition. No state read (merge
    happens at read time), so replay idempotency is structural,
    whatever the session's overwrite mode."""
    cols = [*base_columns, seq_col, op_col]
    write_partitioned(
        batch_df.select(*cols).withColumn("_batch_id", F.lit(batch_id)),
        _deltas_path(state_dir),
    )


def read_snapshot(
    spark: SparkSession,
    base: DataFrame,
    state_dir: str,
    key_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
    as_of_batch: int | None = None,
) -> DataFrame:
    """The snapshot as of ``as_of_batch`` (TIME TRAVEL: only delta
    partitions with ``_batch_id <= as_of_batch`` participate; ``None``
    = latest): base ⊎ the visible delta partitions resolved by per-key
    LATEST-WINS — max(struct(_batch_id, seq)) elects each key's final
    state in one combine-friendly aggregate (base rows rank below
    every delta), then tombstones drop. The batch-id filter is a
    PARTITION filter, so time travel prunes delta files at the scan —
    the same mechanics as an Iceberg snapshot read. Missing delta
    directory (no drain yet) reads as the base unchanged."""
    payload = [c for c in base.columns]
    deltas = read_if_exists(
        spark, _deltas_path(state_dir), _delta_schema(base, seq_col, op_col)
    )
    if deltas is None:
        return base
    if as_of_batch is not None:
        deltas = deltas.filter(F.col("_batch_id") <= as_of_batch)
    tagged_base = base.select(
        key_col,
        F.lit(-1).alias("_b"),
        F.lit(-1).cast("long").alias("_s"),
        F.lit(UPSERT).alias("_op"),
        *[F.col(c).alias(f"p_{c}") for c in payload if c != key_col],
    )
    tagged_deltas = deltas.select(
        key_col,
        F.col("_batch_id").alias("_b"),
        F.col(seq_col).cast("long").alias("_s"),
        F.col(op_col).alias("_op"),
        *[F.col(c).alias(f"p_{c}") for c in payload if c != key_col],
    )
    merged = tagged_base.unionByName(tagged_deltas)
    latest = merged.groupBy(key_col).agg(
        F.max(
            F.struct(
                F.col("_b").alias("b"),
                F.col("_s").alias("s"),
                F.col("_op").alias("op"),
                *[
                    F.col(f"p_{c}").alias(f"p_{c}")
                    for c in payload
                    if c != key_col
                ],
            )
        ).alias("_f")
    )
    return latest.filter(F.col("_f.op") == UPSERT).select(
        key_col,
        *[F.col(f"_f.p_{c}").alias(c) for c in payload if c != key_col],
    ).select(*payload)


def compact_snapshot(
    spark: SparkSession,
    base: DataFrame,
    state_dir: str,
    snapshot_dir: str,
    key_col: str,
    seq_col: str = "seq",
    op_col: str = "op",
) -> None:
    """Merge-on-read → copy-on-write: fold base + deltas into a fresh
    base directory (never rewrite live state in place); a long feed
    re-points at the compacted base with an empty delta dir."""
    read_snapshot(spark, base, state_dir, key_col, seq_col, op_col).write.mode(
        "overwrite"
    ).parquet(snapshot_dir)


def cdc_upsert_available_now(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    base_columns: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    timeout_sec: int = 600,
) -> None:
    """Drain a bounded change stream into delta partitions. Restart
    skips processed files via the stream checkpoint; replays overwrite
    their own partition with an identical recomputation."""
    process = partial(
        process_batch,
        state_dir=state_dir,
        base_columns=base_columns,
        seq_col=seq_col,
        op_col=op_col,
    )
    drain_available_now(
        stream_df.writeStream.foreachBatch(process), checkpoint_dir, timeout_sec, "cdc"
    )


def snapshot_changes(
    spark: SparkSession,
    base: DataFrame,
    state_dir: str,
    key_col: str,
    from_batch: int,
    to_batch: int | None = None,
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Incremental changes feed between two snapshot versions:
    (key, change) with ``change`` ∈ {inserted, updated, deleted} for
    every key whose resolved state differs between the ``from_batch``
    and ``to_batch`` snapshots — what a downstream consumer reads
    instead of re-diffing full snapshots itself (the keyed twin of
    :func:`~osm2gtfs_spark.operators.spatial.tile_snapshot_diff`).

    Two time-travel reads + one full-outer key join; "updated" is
    payload inequality on present-in-both keys (null-safe struct
    comparison). Both reads prune delta partitions at the scan, and at
    production scale both sides are the SAME bucketed layout, so the
    join is bucket-local."""
    payload = [c for c in base.columns if c != key_col]
    old_s = read_snapshot(
        spark, base, state_dir, key_col, seq_col, op_col, as_of_batch=from_batch
    ).select(key_col, F.struct(*payload).alias("_old"))
    new_s = read_snapshot(
        spark, base, state_dir, key_col, seq_col, op_col, as_of_batch=to_batch
    ).select(key_col, F.struct(*payload).alias("_new"))
    joined = old_s.join(new_s, key_col, "full")
    change = (
        F.when(F.col("_old").isNull(), F.lit("inserted"))
        .when(F.col("_new").isNull(), F.lit("deleted"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("updated"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(key_col, "change")
    )
