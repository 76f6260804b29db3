"""Text analysis operators: language-ID, quality, fingerprinting.

All pure column expressions (whole-stage codegen); formulas are chosen
to be reproducible verbatim in the DuckDB oracle (integer outputs,
MD5-based fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "de", "et", "un", "les", "des"],
}


def _stop_hits(toks: Column, lang: str) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))


def lang_id(text_col) -> Column:
    """N-gram/stopword heuristic language ID: argmax of stopword hits,
    'und' when nothing matches. Deterministic tie-break en > es > fr."""
    toks = F.split(text_col, " ", -1)
    en, es, fr = (_stop_hits(toks, lang) for lang in ("en", "es", "fr"))
    return (
        F.when((en >= es) & (en >= fr) & (en > 0), "en")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("und")
    )


def lang_id_sql(text_expr: str) -> str:
    def hits(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"LEN(list_filter(string_split({text_expr}, ' '), t -> t IN ({words})))"

    en, es, fr = hits("en"), hits("es"), hits("fr")
    return (
        f"CASE WHEN {en} >= {es} AND {en} >= {fr} AND {en} > 0 THEN 'en' "
        f"WHEN {es} >= {fr} AND {es} > 0 THEN 'es' "
        f"WHEN {fr} > 0 THEN 'fr' ELSE 'und' END"
    )


def token_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish subword token counting."""
    toks = F.split(F.col(text_col), " ", -1)
    # BPE-ish proxy: alnum runs + punctuation as separate tokens
    bpe = F.split(F.regexp_replace(F.col(text_col), r"([^\w\s])", r" $1 "), r"\s+", -1)
    return docs.withColumn("n_tokens_ws", F.size(toks).cast("long")).withColumn(
        "n_tokens_bpe", F.size(F.filter(bpe, lambda t: t != "")).cast("long")
    )


def word_grams(text_col, n: int) -> Column:
    """Word n-grams WITH multiplicity (mirrors the 1-based SQL oracles),
    as zip_with over n shifted slices of the space-split tokens
    (optimization r6): the previous transform lambda referenced the
    token array (a split expression) per output element — higher-order
    lambdas get no CSE, so the text was re-split O(tokens) times per
    row (measured 3.1 s → 0.36 s for the shingles over the sf0.1
    corpus). Slices run out tail-first; zip_with pads with NULL;
    concat_ws skips NULLs — identical output to the old F.get overrun
    behavior, safe under both ANSI modes. NULL text splits as ``['']``,
    so it gives ``['']`` like the oracle SQL (whose ``GREATEST`` skips
    the NULL length) and like empty text."""
    toks = F.coalesce(F.split(text_col, " ", -1), F.array(F.lit("")))
    length = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    out = F.slice(toks, 1, length)
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, j + 1, length),
            lambda acc, t: F.concat_ws(" ", acc, t),
        )
    return out


def fingerprint(text_col) -> Column:
    """Document fingerprint: lexicographic-min MD5 over 5-gram shingles
    (a 1-hash winnowing stand-in) — stable under token reordering noise
    is NOT the goal; byte-level dedup keying is."""
    sh = word_grams(text_col, 5)
    return F.array_min(F.transform(sh, F.md5))


def fingerprint_sql(text_expr: str) -> str:
    toks = f"string_split({text_expr}, ' ')"
    cat = ", ".join([f"{toks}[i + {j}]" for j in range(5)])
    sh = f"list_transform(range(1, GREATEST(LEN({toks}) - 4, 1) + 1), i -> concat_ws(' ', {cat}))"
    return f"list_aggregate(list_transform({sh}, s -> md5(s)), 'min')"


def repetition_stats(docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text", n: int = 2) -> DataFrame:
    """Gopher-style repetition signal: per-doc permille share of the most
    frequent word n-gram (duplicated boilerplate → high ratio).

    Grams keep multiplicity (no dedup); the heavy lifting is
    explode → two-level aggregate, all shuffle-keyed by doc_id — at
    corpus scale each doc's grams stay in one partition group and the
    map-side combine collapses repeats before the shuffle."""
    grams = word_grams(F.col(text_col), n)
    g = docs.select(F.col(doc_id), F.explode(grams).alias("g"))
    c = g.groupBy(doc_id, "g").agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy(doc_id).agg(
        F.floor(F.max("cnt") * 1000.0 / F.sum("cnt")).cast("long").alias("rep_permille")
    )


# ---------------------------------------------------------------------------
# Corpus cleaning: C4-style line dedup + PII scrubbing
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def line_dedup(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
) -> DataFrame:
    """C4-style cross-corpus line deduplication: of every distinct line,
    only the FIRST occurrence (lowest (doc_id, line_idx)) survives; each
    doc is reassembled from its surviving lines in original order.

    Returns (doc_id, n_lines, n_kept, text_deduped).

    Scale shape: first-occurrence is a groupBy(line).min(struct) — a
    two-phase aggregate with map-side combine, so a boilerplate line
    occurring 10⁹ times reduces to one row per map partition before the
    shuffle (a window over partitionBy(line) would funnel every copy of
    the hot line through one task). The join back is equi on the line
    key; reassembly is doc_id-keyed.
    """
    lines = docs.select(
        F.col(doc_id),
        F.posexplode(F.split(F.col(text_col), delim, -1)).alias("line_idx", "line"),
    )
    firsts = lines.groupBy("line").agg(
        F.min(F.struct(doc_id, "line_idx")).alias("_keep")
    )
    kept = lines.join(firsts, "line").withColumn(
        "_is_first",
        (F.col(doc_id) == F.col(f"_keep.{doc_id}"))
        & (F.col("line_idx") == F.col("_keep.line_idx")),
    )
    return kept.groupBy(doc_id).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_is_first").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_is_first"), F.struct("line_idx", "line"))
                    )
                ),
                lambda s: s.line,
            ),
            delim,
        ).alias("text_deduped"),
    )


def pii_scrub(
    docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails and IPv4 addresses; count what was removed.

    Returns (doc_id, n_emails, n_ips, text_clean). Pure codegen
    (regexp_count / regexp_replace) — the training-pipeline PII pass at
    its simplest; extend the pattern table for phones/keys as needed.

    Counts are REPLACEMENTS MADE, stage by stage (ADVICE r3): emails
    are redacted first, so n_ips is counted on the email-redacted text —
    an IPv4 embedded inside an email address is redacted (and counted)
    as part of the <EMAIL>, not double-reported as an IP."""
    t = F.col(text_col)
    emails_redacted = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    return docs.select(
        F.col(doc_id),
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(emails_redacted, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        F.regexp_replace(emails_redacted, IPV4_RE, "<IP>").alias("text_clean"),
    )


# --- URL normalization (web-scale corpus dedup/provenance) -----------------
# Regexes restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backrefs — so the oracle reproduces the
# chain verbatim. The param-name alternation is ANCHORED to a preceding
# separator (review r4: an unanchored pattern matched the 'ref=' inside
# 'href=1' and corrupted the canonical form); the kept separator is
# restored via the capture group, and duplicate/dangling separators are
# cleaned by the follow-up passes.
_TRACKING_PARAM_RE = r"([?&])(utm_[A-Za-z0-9]+|fbclid|gclid|ref)=[^&#]*"


def url_canonicalize(url_col) -> Column:
    """Dedup-canonical URL form (pure codegen regexp chain):
    lowercase, scheme dropped, leading 'www.' dropped, fragment dropped,
    tracking query params (utm_*, fbclid, gclid, ref) dropped, dangling
    '?'/'&' separators cleaned, trailing '/' trimmed.

    This is the CORPUS-DEDUP normal form (two URLs that canonicalize
    equal almost surely serve the same document), not a navigable URL —
    the scheme is intentionally discarded like web-crawl dedup keys do."""
    u = F.lower(url_col)
    u = F.regexp_replace(u, r"#.*$", "")               # fragment
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")  # scheme
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, _TRACKING_PARAM_RE, r"$1")  # tracking params
    u = F.regexp_replace(u, r"&&+", "&")               # collapse '&&'
    u = F.regexp_replace(u, r"\?&+", "?")              # '?&x=1' → '?x=1'
    u = F.regexp_replace(u, r"[?&]+$", "")             # dangling separators
    u = F.regexp_replace(u, r"/\?", "?")               # '/path/?q' → '/path?q'
    return F.regexp_replace(u, r"/$", "")              # trailing slash


def url_host(url_col) -> Column:
    """Registrable host key: lowercase, scheme/'www.' stripped, port and
    path/query/fragment dropped. Empty string when nothing host-like."""
    u = F.lower(url_col)
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    host = F.regexp_extract(u, r"^([^/?#]+)", 1)
    return F.regexp_replace(host, r":[0-9]+$", "")


def url_host_filter(
    docs: DataFrame,
    url_col: str = "url",
    blocked_hosts: list[str] | None = None,
    blocked_suffixes: list[str] | None = None,
) -> DataFrame:
    """Keep rows whose URL host is not blocklisted (exact host match or
    domain-suffix match). The blocklist is a driver-side constant —
    broadcast as literals; at real scale swap in a blocklist TABLE and
    a broadcast left_anti join, same plan shape as the stopword caps."""
    host = url_host(F.col(url_col))
    keep = F.lit(True)
    for h in blocked_hosts or []:
        keep = keep & (host != h.lower())
    for suf in blocked_suffixes or []:
        s = suf.lower().lstrip(".")
        keep = keep & ~host.endswith("." + s) & (host != s)
    return docs.filter(keep)


def bigram_fluency(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score_bits, n_bigrams, avg_millibits): a statistical
    language-model fluency proxy — each document scored by how
    corpus-frequent its token bigrams are.

    The quality-scoring family's LM member without a model file: train
    = one bigram-count aggregate over the corpus; score = Σ per-bigram
    ⌊log₂ c⌋+1 (the bit length of the count — an EXACT integer stand-in
    for log-frequency, so the cross-engine oracle is bit-for-bit where
    a float ln() would drift at ulp level). Boilerplate-heavy docs made
    of corpus-common bigrams score high per bigram; OCR noise and
    shuffled text score low — the same signal as a perplexity filter,
    monotone-transformed.

    Scale shape: explode to (doc, bigram) pairs, one map-side-combined
    count per bigram, one equi join back (AQE broadcasts the bigram
    vocabulary when it fits), one per-doc sum — no windows, no Python.
    A stopword-pair's count row is one hot counter, not a posting
    list."""
    toks = F.filter(F.split(F.col(text_col), " ", -1), lambda t: t != "")
    # zip_with over two shifted slices (optimization r6): the previous
    # transform lambda referenced ``toks`` via element_at, re-splitting
    # the text once per bigram (no CSE inside higher-order lambdas) —
    # O(tokens²) per doc; outputs identical (tail slice is shorter, so
    # no padded element ever pairs)
    blen = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, blen),
        F.slice(toks, 2, blen),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = docs.select(F.col(doc_id), bigrams.alias("_bgs")).select(
        doc_id, F.explode("_bgs").alias("bg")
    )
    cnt = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("_c"))
    scored = bg.join(cnt, "bg").groupBy(doc_id).agg(
        F.sum(F.length(F.bin(F.col("_c")))).alias("score_bits"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )
    return scored.select(
        doc_id,
        F.col("score_bits").cast("long").alias("score_bits"),
        "n_bigrams",
        F.expr("(score_bits * 1000) div n_bigrams").alias("avg_millibits"),
    )


def chunk_documents(
    docs: DataFrame,
    window: int,
    stride: int,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window token chunking with overlap — the RAG / context-
    window prep step: (doc_id, chunk_idx, start_tok, n_tok, chunk_text)
    with chunks of ``window`` whitespace tokens starting every
    ``stride`` tokens. A doc with n ≤ window tokens yields exactly one
    chunk; otherwise 1 + ceil((n − window) / stride) chunks, so the
    tail is always covered and the last chunk may be short.

    Complements :func:`~osm2gtfs_spark.operators.corpus_index.
    pack_sequences` (which packs disjoint pieces to a budget): chunking
    OVERLAPS on purpose so retrieval windows never cut an answer span.

    Plan shape: pure codegen — tokenize once, explode a per-doc index
    sequence (fanout = chunk count, rows scale with corpus tokens /
    stride, not with corpus × window), slice the token array per
    chunk. No shuffle at all: the operator is embarrassingly
    row-parallel and keeps the input partitioning.
    """
    if window < 1 or stride < 1:
        raise ValueError(f"window/stride must be >= 1, got {window}/{stride}")
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks).cast("long")
    w, s = F.lit(window).cast("long"), F.lit(stride).cast("long")
    n_chunks = F.when(n <= w, F.lit(1).cast("long")).otherwise(
        F.lit(1) + F.floor((n - w + s - F.lit(1)) / s)
    )
    base = docs.select(
        F.col(doc_col),
        toks.alias("_toks"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - F.lit(1))).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * s
    return base.select(
        doc_col,
        "chunk_idx",
        start.alias("start_tok"),
        F.least(w, F.col("_n") - start).alias("n_tok"),
        F.array_join(
            F.slice(F.col("_toks"), (start + F.lit(1)).cast("int"), window), " "
        ).alias("chunk_text"),
    )
