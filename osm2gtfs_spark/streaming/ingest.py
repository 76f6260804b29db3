"""Streaming NEAR-duplicate ingest: the production append pipeline.

:func:`dedup_stream <osm2gtfs_spark.streaming.events.dedup_stream>`
drops exact replays by key; this module drops *near*-duplicates of
everything already admitted — the streaming composition of
``operators/dedup.incremental_dedup`` via ``foreachBatch`` over an
accumulating on-disk state:

- ``<state>/admitted``  — the admitted new documents (text), batch-
  partitioned;
- ``<state>/bands``     — the minhash BAND table of base corpus +
  admitted docs, batch-partitioned. Each micro-batch bands only its
  own admitted rows and appends them; old text is NEVER re-banded
  (the incremental property that keeps banding work O(batch)). Corpus
  text is scanned only for the exact-Jaccard verify stage, and only
  the candidates' rows are shingled/shuffled (semi-join-pruned before
  the projection); lay the corpus out bucketed/sorted by doc id and
  the candidate-id filter prunes the scan itself.

Exactly-once effect: ``foreachBatch`` is at-least-once, so both state
writes are partitioned by ``_batch_id`` and replace only their own
partition (:func:`~osm2gtfs_spark.sources.checkpoint.write_partitioned`)
— a replayed batch overwrites its own partition instead of appending
twice (the standard idempotent-sink recipe).

Scale: per batch, work = band join of the batch against the persisted
band table (equi join on (band_idx, band_hash)) + verify on candidate
pairs only. State grows with admitted volume; the band table is the
compact artifact (k/band_size hashes per doc, no text).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2gtfs_spark.operators import dedup as DD
from osm2gtfs_spark.session import materialize
from osm2gtfs_spark.sources.checkpoint import read_if_exists, write_partitioned
from osm2gtfs_spark.streaming.drain import drain_available_now


def _admitted_path(state_dir: str) -> str:
    return os.path.join(state_dir, "admitted")


def _bands_path(state_dir: str) -> str:
    return os.path.join(state_dir, "bands")


def seed_state(
    base_corpus: DataFrame,
    state_dir: str,
    k: int = 8,
    band_size: int = 2,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Write the base corpus's band table as batch −1 (run once per
    corpus snapshot; the stream then only ever appends)."""
    write_partitioned(
        DD.minhash_bands(doc_id, text_col, base_corpus, k, band_size).withColumn(
            "_batch_id", F.lit(-1)
        ),
        _bands_path(state_dir),
    )


def _admitted_schema(base_corpus: DataFrame, doc_id: str, text_col: str) -> T.StructType:
    fields = [base_corpus.schema[doc_id], base_corpus.schema[text_col]]
    return T.StructType(fields + [T.StructField("_batch_id", T.IntegerType())])


def _bands_schema(base_corpus: DataFrame, doc_id: str) -> T.StructType:
    return T.StructType(
        [
            base_corpus.schema[doc_id],
            T.StructField("band_idx", T.IntegerType()),
            T.StructField("band_hash", T.StringType()),
            T.StructField("_batch_id", T.IntegerType()),
        ]
    )


def read_admitted(
    spark: SparkSession,
    state_dir: str,
    base_corpus: DataFrame | None = None,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> DataFrame | None:
    """The admitted-docs state table (None before the first drain).
    Pass ``base_corpus`` to type the read with its schema; without it
    the schema is inferred, which fails while no batch has admitted a
    row."""
    schema = None if base_corpus is None else _admitted_schema(base_corpus, doc_id, text_col)
    return read_if_exists(spark, _admitted_path(state_dir), schema)


def process_batch(
    batch_df: DataFrame,
    batch_id: int,
    base_corpus: DataFrame,
    state_dir: str,
    k: int = 8,
    band_size: int = 2,
    jaccard_threshold_permille: int = 800,
    max_bucket: int | None = 1000,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch admission round (the foreachBatch body;
    module-level so replay idempotency is directly testable).

    Both state writes replace only this batch's partition, whatever the
    session's overwrite mode. A REPLAYED batch (same batch_id) excludes
    its own prior partition from both state reads: checking a replay
    against its own previous output would reject everything it
    admitted last time — worse, a doc whose buckets are hot would slip
    the candidate stage and the overwrite would replace the partition
    with a strict subset. Excluding the partition reproduces the
    pre-batch state, so the recomputation — and the overwrite — is
    bit-identical."""
    s = batch_df.sparkSession
    admitted_prev = read_admitted(s, state_dir, base_corpus, doc_id, text_col)
    if admitted_prev is not None:
        admitted_prev = admitted_prev.filter(F.col("_batch_id") != batch_id)
    corpus_text = (
        base_corpus.select(doc_id, text_col)
        if admitted_prev is None
        else base_corpus.select(doc_id, text_col).unionByName(
            admitted_prev.select(doc_id, text_col)
        )
    )
    bands = read_if_exists(s, _bands_path(state_dir), _bands_schema(base_corpus, doc_id))
    if bands is None:
        raise ValueError(f"no band table under {state_dir}; run seed_state first")
    cb = bands.filter(F.col("_batch_id") != batch_id).select(doc_id, "band_idx", "band_hash")
    # materialize AND sever lineage BEFORE writing: the plan reads the
    # very paths the writes below mutate. A persist() is not enough —
    # the first write's refreshByPath invalidates any cached plan whose
    # lineage references the path, and the second write would then
    # re-resolve the mutated directory with the stale pre-write schema
    # (found the hard way: batch N's bands write failing to read batch
    # N's own freshly-written admitted files). An eager cut truncates
    # the lineage entirely, so neither write can invalidate it.
    admitted = materialize(DD.incremental_dedup(
        batch_df.select(doc_id, text_col),
        corpus_text,
        doc_id=doc_id,
        text_col=text_col,
        k=k,
        band_size=band_size,
        jaccard_threshold_permille=jaccard_threshold_permille,
        max_bucket=max_bucket,
        corpus_bands=cb,
    ), eager=True)
    write_partitioned(
        admitted.withColumn("_batch_id", F.lit(batch_id)), _admitted_path(state_dir)
    )
    write_partitioned(
        DD.minhash_bands(doc_id, text_col, admitted, k, band_size).withColumn(
            "_batch_id", F.lit(batch_id)
        ),
        _bands_path(state_dir),
    )


def neardup_ingest_available_now(
    stream_df: DataFrame,
    base_corpus: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    band_size: int = 2,
    jaccard_threshold_permille: int = 800,
    max_bucket: int | None = 1000,
    doc_id: str = "doc_id",
    text_col: str = "text",
    timeout_sec: int = 600,
) -> None:
    """Drain the bounded source, admitting each micro-batch against
    base corpus + previously admitted docs. Requires :func:`seed_state`
    to have been run for ``state_dir``. Restartable: the checkpoint
    skips already-processed files, and a replayed batch rewrites only
    its own partitions from exactly the pre-batch state
    (:func:`process_batch`), so it recomputes the identical result."""
    process = partial(
        process_batch,
        base_corpus=base_corpus,
        state_dir=state_dir,
        k=k,
        band_size=band_size,
        jaccard_threshold_permille=jaccard_threshold_permille,
        max_bucket=max_bucket,
        doc_id=doc_id,
        text_col=text_col,
    )
    drain_available_now(
        stream_df.writeStream.foreachBatch(process), checkpoint_dir, timeout_sec, "neardup ingest"
    )
