"""Interleaved-span document operators — the north-rule payload axis.

The input-table shape this engine is specified against (BASELINE.json
``input_hint``) is an Iceberg table of interleaved text + media
documents: ``(doc_id, spans: array<struct<kind, text, media_ref,
offset>>)``.  ``sources/docs.py`` builds that table for the transit
corpus; these operators are the generic span-level transformations a
training-data pipeline runs over any such corpus:

- ``repair_offsets``: after span-level edits (scrubbing, filtering,
  re-segmentation) the stored ``offset`` fields are stale; recompute
  them as the cumulative rendered cost of the preceding spans (text
  spans cost their character length, media spans a fixed placeholder
  cost).  Explode → per-doc window prefix-sum → sort_array reassembly:
  two shuffles, linear per doc, and the round-trip itself exercises
  the north-rule span-sequence invariant (order restored by position,
  never by arrival).
- ``media_asset_table``: exact deduplication of media ASSETS across
  the corpus.  The same image referenced from many documents should be
  stored once: group media spans by their content key (``media_ref``
  here; at production scale the bytes' xxhash64 — same plan) and elect
  a canonical (doc, position) winner per key with a min-struct
  aggregate (one shuffle, map-side combining).  The asset table this
  yields is what a dedup-aware media store ingests.
- ``pack_interleaved``: concat-and-chunk sequence packing at SPAN
  granularity — the interleaved twin of
  ``corpus_index.pack_sequences``.  Text spans cost their token count,
  media spans a fixed ``media_tokens`` budget (the vision-adapter
  placeholder length); documents are concatenated bucket-locally in
  deterministic order and cut every ``budget`` tokens, spans straddling
  a cut are split.  The running-offset window is partitioned by a hash
  bucket so no global single-partition window exists; straddle fanout
  is bounded by span_cost/budget + 1.

Reference analog: none — the reference (grote/osm2gtfs) renders whole
documents; span-granular repair/dedup/packing extend the
LLM-data-pipeline family (SURVEY.md §2 extension block) to the
interleaved payload the north rule specifies.

All arithmetic is integer (lengths, token counts, offsets), so the
DuckDB value oracle is bit-exact; no Python runs anywhere in these
plans (pure Catalyst — whole-stage codegen end to end).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TEXT_KIND = "text"


def _span_cost(kind: Column, text: Column, media_cost: int) -> Column:
    """Rendered character cost of one span (text length / fixed)."""
    return F.when(kind == TEXT_KIND, F.length(text)).otherwise(F.lit(media_cost))


def _token_cost(kind: Column, text: Column, media_tokens: int) -> Column:
    """Token cost of one span: whitespace token count for text (counted
    arithmetically — length minus spaces-removed length plus one — so
    the oracle reproduces it without a tokenizer), fixed placeholder
    budget for media. Empty text costs 0."""
    n_spaces = F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))
    return (
        F.when(kind != TEXT_KIND, F.lit(media_tokens))
        .when(F.length(text) == 0, F.lit(0))
        .otherwise(n_spaces + 1)
    )


def explode_spans(docs: DataFrame, doc_id: str = "doc_id",
                  spans_col: str = "spans") -> DataFrame:
    """(doc_id, pos, kind, text, media_ref, offset): one row per span,
    ``pos`` the 0-based array position (the authoritative order key —
    offsets may be stale, arrival order is meaningless after a
    shuffle)."""
    return docs.select(
        F.col(doc_id), F.posexplode(spans_col).alias("pos", "s")
    ).select(
        doc_id,
        "pos",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def reassemble_spans(flat: DataFrame, doc_id: str = "doc_id") -> DataFrame:
    """Inverse of :func:`explode_spans`: (doc_id, spans) with the array
    restored in ``pos`` order regardless of row arrival order — the
    north-rule span-sequence invariant is enforced here, not assumed."""
    tagged = flat.groupBy(doc_id).agg(
        F.array_sort(
            F.collect_list(
                F.struct("pos", "kind", "text", "media_ref", "offset")
            )
        ).alias("_tagged")
    )
    return tagged.select(
        doc_id,
        F.transform(
            "_tagged",
            lambda t: F.struct(
                t["kind"].alias("kind"),
                t["text"].alias("text"),
                t["media_ref"].alias("media_ref"),
                t["offset"].alias("offset"),
            ),
        ).alias("spans"),
    )


def repair_offsets(
    docs: DataFrame,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
    media_cost: int = 1,
) -> DataFrame:
    """(doc_id, spans) with every span's ``offset`` recomputed as the
    cumulative rendered cost of the spans before it (text = character
    length, media = ``media_cost`` placeholder characters).

    Run after any span-level edit — scrub, filter, re-segmentation —
    that invalidates stored offsets.  Shape: explode → one per-doc
    window prefix-sum (partitioned by doc, never global) → reassembly;
    linear in total span count, skew bounded by the longest document."""
    flat = explode_spans(docs, doc_id, spans_col)
    w = (
        Window.partitionBy(doc_id)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cost = _span_cost(F.col("kind"), F.col("text"), media_cost)
    repaired = flat.withColumn(
        "offset",
        F.coalesce(F.sum(cost).over(w), F.lit(0)).cast("int"),
    )
    return reassemble_spans(repaired, doc_id)


def media_asset_table(
    docs: DataFrame,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """(media_ref, canonical_doc, canonical_pos, n_copies, n_docs): one
    row per distinct media asset across the corpus, its canonical
    owner (first occurrence: smallest (doc_id, pos)), how many spans
    reference it, and from how many distinct documents.

    One groupBy on the content key with min-struct + counts — the
    min/count aggregates combine map-side to one partial row per
    (partition, key); ``n_docs`` is an exact count-distinct, whose
    expanded first phase partially dedupes (key, doc) pairs map-side
    before the shuffle.  A viral image referenced by a billion
    documents is one hot reducer merging bounded partials, never a
    collected reference list."""
    media = explode_spans(docs, doc_id, spans_col).filter(
        F.col("kind") != TEXT_KIND
    )
    return media.groupBy("media_ref").agg(
        F.min(F.struct(F.col(doc_id).alias("d"), F.col("pos").alias("p")))
        .alias("_w"),
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct(doc_id).alias("n_docs"),
    ).select(
        "media_ref",
        F.col("_w.d").alias("canonical_doc"),
        F.col("_w.p").alias("canonical_pos"),
        "n_copies",
        "n_docs",
    )


def pack_interleaved(
    docs: DataFrame,
    budget: int = 2048,
    media_tokens: int = 64,
    n_buckets: int = 32,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Concat-and-chunk packing of interleaved documents into fixed
    ``budget``-token training sequences, at span granularity.

    Output: one row per (span × chunk it overlaps):
    (doc_id, pos, kind, bucket, chunk_id, span_tok_start, span_tok_end,
    chunk_tok_start) — tokens [span_tok_start, span_tok_end) of span
    ``pos`` of the doc land in chunk ``chunk_id`` at offset
    ``chunk_tok_start``.  Text spans cost their whitespace token count,
    media spans a fixed ``media_tokens`` placeholder block; zero-cost
    spans (empty text) occupy no chunk and are dropped.

    Scale shape (same as corpus_index.pack_sequences, which packs flat
    text): documents are bucketed by ``doc_id % n_buckets`` (oracle
    exactness; production uses xxhash64 — identical plan), the running
    token offset is a per-bucket window (no global window / no
    SinglePartition), span starts within a doc are a per-doc window,
    and the chunk fanout per span is ≤ cost/budget + 1.  Chunks never
    span buckets; packing is deterministic for fixed (n_buckets,
    budget, media_tokens)."""
    flat = explode_spans(docs, doc_id, spans_col).withColumn(
        "cost", _token_cost(F.col("kind"), F.col("text"), media_tokens)
    ).filter(F.col("cost") > 0).select(doc_id, "pos", "kind", "cost")

    # per-doc: span start offset inside the doc (per-doc prefix window)
    wd = (
        Window.partitionBy(doc_id)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flat = flat.withColumn(
        "span_off", F.coalesce(F.sum("cost").over(wd), F.lit(0))
    )

    # doc-level placement in the concatenated bucket stream — exactly
    # pack_sequences' shape: one row per doc, per-bucket prefix window.
    wb = (
        Window.partitionBy("bucket")
        .orderBy(doc_id)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    doc_pos = (
        flat.groupBy(doc_id)
        .agg(F.sum("cost").alias("doc_cost"))
        .withColumn("bucket", (F.col(doc_id) % n_buckets).cast("int"))
        .withColumn(
            "doc_start", F.coalesce(F.sum("doc_cost").over(wb), F.lit(0))
        )
        .select(doc_id, "bucket", "doc_start")
    )
    # spans rejoin their doc's stream position (equi join on doc_id;
    # AQE broadcasts doc_pos when the doc count fits)
    placed = flat.join(doc_pos, doc_id).withColumn(
        "start", F.col("doc_start") + F.col("span_off")
    ).withColumn("end", F.col("start") + F.col("cost"))

    seg = placed.select(
        doc_id,
        "pos",
        "kind",
        "bucket",
        "start",
        "end",
        F.explode(
            F.sequence(
                F.expr(f"start div {budget}"), F.expr(f"(end - 1) div {budget}")
            )
        ).alias("chunk_id"),
    )
    seg_start = F.greatest(F.col("start"), F.col("chunk_id") * budget)
    seg_end = F.least(F.col("end"), (F.col("chunk_id") + 1) * budget)
    return seg.select(
        doc_id,
        "pos",
        "kind",
        "bucket",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        (seg_start - F.col("start")).cast("long").alias("span_tok_start"),
        (seg_end - F.col("start")).cast("long").alias("span_tok_end"),
        (seg_start - F.col("chunk_id") * budget).cast("long").alias("chunk_tok_start"),
    )


def chunk_spans(
    docs: DataFrame,
    budget: int,
    media_tokens: int = 64,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """Retrieval-side chunking of interleaved documents at SPAN
    granularity: (doc_id, chunk_idx, pos, kind, cost, chunk_off) —
    span ``pos`` belongs to chunk ``chunk_idx`` of its own document,
    where chunks are nominal ``budget``-token windows over the doc's
    cumulative token cost and every span lands WHOLE in the chunk its
    first token falls in. Media spans are therefore atomic (a vision
    placeholder block is never split), and text spans never break
    mid-span — the property a retrieval index needs so no answer span
    is cut; a chunk may overrun the nominal budget by at most one
    span's cost.

    The per-DOC twin of :func:`pack_interleaved` (which concatenates
    ACROSS documents and splits spans exactly at training-sequence
    cuts): packing optimizes token utilization, chunking preserves
    span integrity.

    Plan shape: explode → one per-doc prefix-sum window (partitioned
    by doc, never global) → integer div. Pure codegen, integer
    arithmetic end to end; skew bounded by the longest document.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    flat = explode_spans(docs, doc_id, spans_col).withColumn(
        "cost", _token_cost(F.col("kind"), F.col("text"), media_tokens).cast("long")
    )
    wd = (
        Window.partitionBy(doc_id)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flat = flat.withColumn(
        "_off", F.coalesce(F.sum("cost").over(wd), F.lit(0).cast("long"))
    )
    return flat.select(
        doc_id,
        F.expr(f"_off div {budget}").cast("long").alias("chunk_idx"),
        "pos",
        "kind",
        "cost",
        (F.col("_off") % F.lit(budget)).cast("long").alias("chunk_off"),
    )


def media_context(
    docs: DataFrame,
    doc_id: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """(doc_id, pos, media_ref, before_text, after_text): for every
    media span, the text of its closest preceding and following TEXT
    spans — the caption/context pair extraction a multimodal training
    pipeline runs to turn interleaved documents into (image, context)
    examples.

    Two per-doc windows (last non-null before, first non-null after —
    media spans carry NULL text so they never shadow a text neighbor),
    then a media filter; missing context coalesces to ''. Pure codegen,
    skew bounded by the longest document."""
    flat = explode_spans(docs, doc_id, spans_col)
    txt = F.when(F.col("kind") == TEXT_KIND, F.col("text"))
    wb = (
        Window.partitionBy(doc_id)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wa = (
        Window.partitionBy(doc_id)
        .orderBy("pos")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    enriched = flat.withColumn(
        "before_text", F.coalesce(F.last(txt, ignorenulls=True).over(wb), F.lit(""))
    ).withColumn(
        "after_text", F.coalesce(F.first(txt, ignorenulls=True).over(wa), F.lit(""))
    )
    return enriched.filter(F.col("kind") != TEXT_KIND).select(
        doc_id, "pos", "media_ref", "before_text", "after_text"
    )
