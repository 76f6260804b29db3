"""Corpus indexing/retrieval + URL normalization unit tests.

The DuckDB gate (inverted_index / tfidf_topk / bm25_topk /
url_canonical_filter) enforces cross-engine value parity; these cover
behaviors the oracle can't express — ranking sanity, cap semantics,
URL edge cases.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.operators import corpus_index as CI
from osm2gtfs_spark.operators import text as TXT


def _salted_min(sh, salt: str):
    # NB: the transform lambda must be single-arg — PySpark passes the
    # array index as a second argument when the lambda's arity is 2,
    # which would silently replace a closed-over default parameter.
    salt_col = F.lit(salt)
    return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(salt_col, s))))


def minhash_signature(sh, k: int = 8):
    """The slow MinHash reference: k columns, each the lexicographic MIN
    of salted MD5 over the shingle set."""
    return [_salted_min(sh, f"{i}:").alias(f"mh{i}") for i in range(k)]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark join window spark spark"),
        (2, "join window table table"),
        (3, "the the the the filler words only"),
        (4, "spark"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_inverted_index_postings_and_cap(corpus):
    idx = {r.token: r for r in CI.inverted_index(corpus).collect()}
    assert [p["doc_id"] for p in idx["spark"].postings] == [1, 4]
    assert [p["tf"] for p in idx["spark"].postings] == [3, 1]
    assert idx["spark"].df == 2
    capped = {r.token for r in CI.inverted_index(corpus, max_df=1).collect()}
    assert "spark" not in capped and "filler" in capped


def test_inverted_index_default_cap_engaged(spark, caplog):
    """VERDICT r4 item 4: the stopword cap must be ON by default. A
    token in >80% of docs is dropped under the DEFAULT arguments, the
    drop is logged, and max_df=None explicitly disables the cap."""
    import logging

    rows = [(i, f"stop unique{i}") for i in range(10)]  # 'stop' df=10/10
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with caplog.at_level(logging.INFO, logger="osm2gtfs_spark.operators.corpus_index"):
        toks = {r.token for r in CI.inverted_index(df).collect()}
    assert "stop" not in toks and "unique0" in toks
    assert any(
        "drops 1 stopword token" in rec.getMessage() for rec in caplog.records
    ), caplog.records
    uncapped = {r.token for r in CI.inverted_index(df, max_df=None).collect()}
    assert "stop" in uncapped
    with pytest.raises(ValueError, match="max_df"):
        CI.inverted_index(df, max_df=1.5)


def test_stats_artifact_skips_corpus_count(spark, corpus):
    """VERDICT r4 item 5: with stats supplied, constructing the
    retrieval plan runs NO job (no corpus count); without stats the
    dev-mode fallback does count. Job-count assertion via job groups."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    sc.setJobGroup("with_stats", "probe")
    CI.tfidf_topk(corpus, k=1, n_docs=4)
    CI.bm25_topk(corpus, "spark", stats=(4, 14))
    assert tracker.getJobIdsForGroup("with_stats") == [], "stats path ran a job"

    sc.setJobGroup("without_stats", "probe")
    CI.tfidf_topk(corpus, k=1)
    assert len(tracker.getJobIdsForGroup("without_stats")) >= 1
    sc.setJobGroup(None, None)


def test_build_corpus_stats_artifact_roundtrip(spark, corpus, tmp_path):
    """The stats artifact persists and reloads: write once per corpus
    snapshot, consumers read one row — and the values match the direct
    corpus_stats computation (shared integer avgdl dialect)."""
    path = str(tmp_path / "corpus_stats")
    CI.build_corpus_stats(corpus).write.parquet(path)
    stats = spark.read.parquet(path)
    n, s = CI.load_corpus_stats(stats)
    assert (n, s) == CI.corpus_stats(corpus)
    assert stats.first()["avgdl"] == max(1, s // n)
    # bm25 over the persisted artifact == bm25 over a live count
    a = CI.bm25_topk(corpus, "spark join", stats=stats).collect()
    b = CI.bm25_topk(corpus, "spark join").collect()
    assert a == b


def test_bm25_ranks_term_dense_doc_first(corpus):
    got = CI.bm25_topk(corpus, "spark join window", k=4).collect()
    assert got[0].doc_id == 1  # all three terms, spark x3
    assert {r.doc_id for r in got} == {1, 2, 4}  # doc 3 has no query term
    assert all(a.score >= b.score for a, b in zip(got, got[1:]))


def test_bm25_empty_query_raises(corpus):
    with pytest.raises(ValueError, match="empty query"):
        CI.bm25_topk(corpus, "   ")


def test_tfidf_prefers_rare_terms(corpus):
    top = {
        r.doc_id: r.token
        for r in CI.tfidf_topk(corpus, k=1).collect()
    }
    # doc 1: 'spark' (tf 3) beats the shared singletons
    assert top[1] == "spark"
    # doc 3: a rare term beats the repeated stopword-ish 'the' only if
    # idf wins; 'the' has tf 4 but df 1 here too (only doc 3 uses it),
    # so 'the' legitimately wins — assert determinism instead
    again = {r.doc_id: r.token for r in CI.tfidf_topk(corpus, k=1).collect()}
    assert top == again


def test_url_canonicalize_edges(spark):
    rows = [
        (1, "HTTPS://WWW.Example.COM/Path/?utm_source=a&id=2#x"),
        (2, "http://example.com:8080/a/"),
        (3, "example.com/b?ref=z&q=1"),        # no scheme
        (4, "ftp://files.example.org/x"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "i long, url string")
    got = {
        r.i: (r.c, r.h)
        for r in df.select(
            "i",
            TXT.url_canonicalize(F.col("url")).alias("c"),
            TXT.url_host(F.col("url")).alias("h"),
        ).collect()
    }
    assert got[1] == ("example.com/path?id=2", "example.com")
    assert got[2] == ("example.com:8080/a", "example.com")
    assert got[3] == ("example.com/b?q=1", "example.com")
    assert got[4] == ("files.example.org/x", "files.example.org")
    assert got[5] == ("", "")


def test_url_host_filter_suffix_and_exact(spark):
    rows = [(1, "https://a.bad.example/x"), (2, "https://bad.example/y"),
            (3, "https://good.example/z"), (4, "https://notbad.example/w")]
    df = spark.createDataFrame(rows, "i long, url string")
    kept = {r.i for r in TXT.url_host_filter(df, blocked_suffixes=["bad.example"]).collect()}
    assert kept == {3, 4}  # suffix match needs a dot boundary
    kept2 = {r.i for r in TXT.url_host_filter(df, blocked_hosts=["good.example"]).collect()}
    assert kept2 == {1, 2, 4}


def test_url_canonicalize_idempotent(spark):
    """Canonicalization is a normal form: applying it twice must be a
    no-op (single Spark job over a pile of adversarial URLs)."""
    urls = [
        "HTTPS://WWW.Example.COM/Path/?utm_source=a&id=2#x",
        "http://a.b:80/p/?utm_a=1&utm_b=2&ref=z",
        "www.x.y/?#", "x.y/a//b/", "http://h/?&", "h/?utm_x=",
        "ftp://F.G/Q?gclid=1&a=2#frag", "", "just-text", "a/b/?c=d&utm_e=f",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    from osm2gtfs_spark.operators.text import url_canonicalize

    out = df.select(
        "i",
        url_canonicalize(F.col("url")).alias("once"),
        url_canonicalize(url_canonicalize(F.col("url"))).alias("twice"),
    )
    bad = out.filter(F.col("once") != F.col("twice")).collect()
    assert not bad, bad


def test_minhash_fold_matches_per_column_family(spark):
    """minhash_signature_md5_fold is bit-identical to the k-column
    reference :func:`minhash_signature` on adversarial texts (empty,
    1 token, repeats)."""
    from osm2gtfs_spark.operators import dedup as DD

    texts = ["", "one", "a a a a", "x y z w v u t s r q", "a b", "  "]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    sh = DD.shingles(F.col("text"))
    old = df.select("i", *minhash_signature(sh, 8))
    new = df.select("i", DD.minhash_signature_md5_fold(sh, 8).alias("sig"))
    j = old.join(new, "i")
    bad = j.filter(
        F.concat_ws("|", *[F.col(f"mh{k}") for k in range(8)])
        != F.concat_ws("|", *[F.col("sig")[k] for k in range(8)])
    ).collect()
    assert not bad, bad


def test_duplicated_span_scrub_semantics(spark):
    """Exact-substring scrub: cross-doc boilerplate removed from both
    carriers, a doubled block inside one doc fully self-dedups, short
    docs untouched."""
    from osm2gtfs_spark.operators.dedup import duplicated_span_scrub

    B = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [
        (1, "u1 u2 u3 " + B),        # boilerplate tail
        (2, "v1 v2 " + B),           # same tail, different prefix
        (3, B + " " + B),            # self-repeat, fully covered
        (4, "short doc only"),       # < 8 tokens
        (5, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),  # unique 9 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in duplicated_span_scrub(df, n=8).collect()}
    assert (got[1].n_removed, got[1].n_spans, got[1].text_clean) == (8, 1, "u1 u2 u3")
    assert (got[2].n_removed, got[2].n_spans, got[2].text_clean) == (8, 1, "v1 v2")
    assert (got[3].n_removed, got[3].n_spans, got[3].text_clean) == (16, 1, "")
    assert (got[4].n_removed, got[4].text_clean) == (0, "short doc only")
    assert (got[5].n_removed, got[5].text_clean) == (0, "w1 w2 w3 w4 w5 w6 w7 w8 w9")


def test_duplicated_span_scrub_linear_mask(spark):
    """VERDICT r4 item 2: the token mask must be linear per doc, not
    O(doc_len × covered). Two assertions: (a) the plan carries no
    array_contains membership scan over the covered-position array —
    the mask is run-slicing over the sorted cps array; (b) a long
    fully-duplicated doc (the pathological boilerplate case: every
    position covered, the quadratic mask's worst case) scrubs to empty
    with interleaved unique docs untouched."""
    from osm2gtfs_spark.operators.dedup import duplicated_span_scrub

    # (a) plan shape: no membership scan in the mask
    small = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    plan = duplicated_span_scrub(small, n=8)._jdf.queryExecution().optimizedPlan().toString()
    assert "array_contains" not in plan, "mask regressed to a membership scan"

    # (b) 20k-token doc that is one 8-token block repeated 2500× — every
    # token is covered by a duplicated window (the old mask cost
    # ~20k × 20k ops here; the linear mask is two array slices)
    n_reps = 2500
    long_text = " ".join("b1 b2 b3 b4 b5 b6 b7 b8" for _ in range(n_reps))
    rows = [(1, long_text), (2, "only unique tokens here nine in total count them now")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in duplicated_span_scrub(df, n=8).collect()}
    assert (got[1].n_removed, got[1].n_spans, got[1].text_clean) == (8 * n_reps, 1, "")
    assert got[2].n_removed == 0 and got[2].text_clean == rows[1][1]


def test_pack_sequences_invariants(spark):
    """Packing invariants: full token coverage, contiguous per-doc
    segments, chunk offsets within budget, chunks fully packed except
    each bucket's last."""
    from osm2gtfs_spark.operators.corpus_index import pack_sequences

    rows = [(i, " ".join(f"t{i}_{j}" for j in range(5 + (i * 7) % 23))) for i in range(40)]
    rows.append((99, ""))  # empty doc: no output rows
    df = spark.createDataFrame(rows, "doc_id long, text string")
    segs = pack_sequences(df, budget=16, n_buckets=4).collect()
    assert all(r.doc_id != 99 for r in segs)
    # coverage: per doc, segments tile [0, dl) without gaps or overlaps
    by_doc: dict[int, list] = {}
    for r in segs:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in rows[:-1]:
        dl = len(text.split())
        parts = sorted(by_doc[i], key=lambda r: r.doc_tok_start)
        assert parts[0].doc_tok_start == 0 and parts[-1].doc_tok_end == dl
        for a, b in zip(parts, parts[1:]):
            assert a.doc_tok_end == b.doc_tok_start
            assert b.chunk_id == a.chunk_id + 1  # straddles are adjacent chunks
    # offsets within budget; every chunk except the bucket's last is full
    fill: dict[tuple, int] = {}
    for r in segs:
        assert 0 <= r.chunk_tok_start < 16
        fill[(r.bucket, r.chunk_id)] = fill.get((r.bucket, r.chunk_id), 0) + (
            r.doc_tok_end - r.doc_tok_start
        )
    for (bucket, chunk), tokens in fill.items():
        last = max(c for b, c in fill if b == bucket)
        assert tokens == 16 or chunk == last, (bucket, chunk, tokens)


def test_prepare_corpus_stages(spark):
    """End-to-end prep drops: low-quality docs, near-dup losers (keeper
    = min doc_id), docs leaking eval-set n-grams (including verbatim
    eval members), and scrubs PII from survivors."""
    from osm2gtfs_spark.plans.corpus_prep import prepare_corpus

    good = " ".join(f"alpha{i} bravo{i} delta{i}" for i in range(12))  # 36 tokens
    eval_text = " ".join(f"echo{i} foxtr{i} golf{i}" for i in range(12))
    rows = [
        (1, eval_text),                      # the eval doc itself
        (20, good),                          # clean keeper
        (21, good + " tail21"),              # near-dup? token sets differ -> kept
        (22, good),                          # exact token-set dup of 20 -> dropped
        (23, "short text"),                  # quality: too few tokens
        (24, eval_text + " overlapping paragraph from the eval set here x1 y2"),  # leaked
        (25, " ".join(f"mike{i} novem{i} oscar{i}" for i in range(12)) + " mail bob@x.org 10.1.2.3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") == 1)
    out = {r.doc_id: r for r in prepare_corpus(docs, bench, overlap_threshold=5).collect()}
    assert 20 in out and 21 in out and 25 in out
    assert 22 not in out          # dup loser
    assert 23 not in out          # quality reject
    assert 1 not in out           # verbatim eval member self-evicts
    assert 24 not in out          # eval leakage
    assert out[25].n_emails == 1 and out[25].n_ips == 1
    assert "<EMAIL>" in out[25].text_clean and "<IP>" in out[25].text_clean


def test_incremental_dedup_admission(spark):
    """Incremental dedup: corpus dups rejected, batch-internal dups
    admit exactly the first occurrence, novel docs admitted."""
    from osm2gtfs_spark.operators.dedup import incremental_dedup

    old_text = " ".join(f"alpha{i} bravo{i} carol{i}" for i in range(10))
    novel = " ".join(f"xray{i} yank{i} zulu{i}" for i in range(10))
    batch_dup = " ".join(f"mike{i} nov{i} osc{i}" for i in range(10))
    corpus = spark.createDataFrame([(1, old_text)], "doc_id long, text string")
    new = spark.createDataFrame(
        [
            (100, old_text),      # exact corpus dup -> reject
            (101, novel),         # novel -> admit
            (102, batch_dup),     # first occurrence -> admit
            (103, batch_dup),     # batch-internal dup -> reject
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in incremental_dedup(new, corpus).collect()}
    assert got == {101, 102}


def test_incremental_dedup_hot_cap_counts_corpus_side(spark):
    """max_bucket counts bucket rows in the CORPUS only: a text copied
    three times in the corpus fills hot buckets, so its new copy finds
    no candidate and is admitted; a text copied four times inside the
    batch alone fills no corpus bucket, so its new×new pairs survive
    and only the first copy is admitted."""
    from osm2gtfs_spark.operators.dedup import incremental_dedup

    old_text = " ".join(f"alpha{i} bravo{i} carol{i}" for i in range(10))
    batch_dup = " ".join(f"mike{i} nov{i} osc{i}" for i in range(10))
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame([(i, old_text) for i in (1, 2, 3)], schema)
    new = spark.createDataFrame(
        [(200 + i, batch_dup) for i in range(4)] + [(300, old_text)], schema
    )
    got = {r.doc_id for r in incremental_dedup(new, corpus, max_bucket=2).collect()}
    assert got == {200, 300}
    uncapped = {r.doc_id for r in incremental_dedup(new, corpus, max_bucket=None).collect()}
    assert uncapped == {200}


def test_url_canonicalize_anchored_params(spark):
    """Review r4: only WHOLE param names are tracking params — 'href='
    must survive; consecutive tracking params must all be removed."""
    from osm2gtfs_spark.operators.text import url_canonicalize

    rows = [
        (1, "example.com/a?href=1"),
        (2, "example.com/a?agclid=7&b=2"),
        (3, "example.com/a?utm_a=1&utm_b=2&id=3"),
        (4, "example.com/a?id=3&utm_a=1&utm_b=2"),
        (5, "example.com/a?utm_a=1&utm_b=2"),
    ]
    df = spark.createDataFrame(rows, "i long, url string")
    got = {r.i: r.c for r in df.select("i", url_canonicalize(F.col("url")).alias("c")).collect()}
    assert got[1] == "example.com/a?href=1"
    assert got[2] == "example.com/a?agclid=7&b=2"
    assert got[3] == "example.com/a?id=3"
    assert got[4] == "example.com/a?id=3"
    assert got[5] == "example.com/a"
