"""End-to-end training-corpus preparation: the composition a data
pipeline actually ships, built from the individually-gated operators.

    quality filter → near-dup keeper selection → benchmark
    decontamination → PII scrub
    (→ duplicated-span scrub → sequence packing, the packed variant)

Every stage is deterministic and oracle-reproducible (the
``corpus_prep_pipeline`` / ``corpus_prep_packed`` gate queries replay
the whole chain in DuckDB, recursive-CTE closure included), so the
composition is value-checked end-to-end, not just per stage.

Scale shape: each stage consumes only ids + the columns it needs;
the dedup closure runs on the quality-surviving subset (smaller
graph); decontamination is shingle-keyed (never doc×doc); the scrub is
pure codegen. Two materialization boundaries
(:func:`~osm2gtfs_spark.session.materialize`): ``kept`` feeds the pair
graph, the keeper anti-join and the shingle explode, and the deduped
set feeds both the decontamination scan and its anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2gtfs_spark.operators import dedup as DD
from osm2gtfs_spark.operators import text as TXT
from osm2gtfs_spark.session import materialize

# C4/Gopher-style keep thresholds (shared with quality_filter_composite)
TOK_MIN, TOK_MAX = 30, 80
REP_MAX_PERMILLE = 300
MWL_MIN_X100, MWL_MAX_X100 = 250, 700


def quality_keep(docs: DataFrame) -> DataFrame:
    """(doc_id, keep): the composite C4/Gopher keep decision."""
    tk = TXT.token_stats(docs).select(
        "doc_id",
        F.col("n_tokens_ws").alias("n_tok"),
        F.floor(
            (F.length("text") - (F.col("n_tokens_ws") - 1)) * 100.0 / F.col("n_tokens_ws")
        ).cast("long").alias("mwl_x100"),
    )
    rep = TXT.repetition_stats(docs, n=2)
    return tk.join(rep, "doc_id").select(
        "doc_id",
        (
            F.col("n_tok").between(TOK_MIN, TOK_MAX)
            & (F.col("rep_permille") < REP_MAX_PERMILLE)
            & F.col("mwl_x100").between(MWL_MIN_X100, MWL_MAX_X100)
        ).alias("keep"),
    )


def prepare_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    overlap_threshold: int = 10,
    decontaminate_n: int = 3,
    max_shingle_docs: int | None = 15,
) -> DataFrame:
    """docs → the prepared corpus (doc_id, n_emails, n_ips, text_clean).

    Stages: (1) quality filter, (2) token-set near-dup keeper selection
    (simhash-banded candidates → connected components → keepers),
    (3) drop docs sharing ≥ ``overlap_threshold`` distinct n-grams with
    ``benchmark`` (eval-set leakage; an eval doc that IS in the corpus
    overlaps itself fully, so verbatim eval members are removed too),
    (4) PII scrub. Output keeps the scrub counters so downstream
    auditing sees what was redacted."""
    kept_ids = quality_keep(docs).filter("keep").select("doc_id")
    kept = docs.join(kept_ids, "doc_id", "left_semi")
    # kept feeds the pair graph (2 scans), keeper anti-join, and the
    # downstream shingle explode
    kept = materialize(kept)

    comps = DD.connected_components(DD.token_set_dup_pairs(kept))
    deduped = DD.apply_keepers(kept, comps)
    if benchmark is not None:
        deduped = materialize(deduped)
        contaminated = (
            DD.decontaminate(
                deduped,
                benchmark,
                n=decontaminate_n,
                max_shingle_docs=max_shingle_docs,
            )
            .filter(F.col("n_overlap") >= overlap_threshold)
            .select("doc_id")
        )
        deduped = deduped.join(contaminated, "doc_id", "left_anti")

    return TXT.pii_scrub(deduped)


def prepare_corpus_packed(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    overlap_threshold: int = 10,
    decontaminate_n: int = 3,
    max_shingle_docs: int | None = 15,
    span_n: int = 8,
    span_min_occurrences: int = 2,
    budget: int = 2048,
    n_buckets: int = 32,
) -> DataFrame:
    """docs → packed training sequences: :func:`prepare_corpus` followed
    by duplicated-span scrubbing and GPT-style sequence packing — the
    artifact a training job actually reads (VERDICT r4 item 7).

    Output: one row per (surviving doc × chunk it overlaps) —
    (doc_id, bucket, chunk_id, doc_tok_start, doc_tok_end,
    chunk_tok_start), chunked at ``budget`` tokens over the
    span-scrubbed clean text (docs scrubbed to empty emit nothing).

    Scale shape: the three appended stages are a linear chain, each
    consuming the previous stage's output exactly once — no new
    materialization boundary beyond :func:`prepare_corpus`'s internal ones. The span
    scrub adds its two corpus shuffles (distinct-window hash, doc id);
    packing adds the bucket-local running-offset window. Nothing here
    is corpus×corpus."""
    from osm2gtfs_spark.operators import corpus_index as CI
    from osm2gtfs_spark.operators.dedup import duplicated_span_scrub

    prepped = prepare_corpus(
        docs,
        benchmark=benchmark,
        overlap_threshold=overlap_threshold,
        decontaminate_n=decontaminate_n,
        max_shingle_docs=max_shingle_docs,
    )
    scrubbed = duplicated_span_scrub(
        prepped.select("doc_id", "text_clean"),
        text_col="text_clean",
        n=span_n,
        min_occurrences=span_min_occurrences,
    )
    return CI.pack_sequences(
        scrubbed, budget=budget, n_buckets=n_buckets, text_col="text_clean"
    )
