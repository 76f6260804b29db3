"""Interleaved-span operators (operators/spans.py): offset repair,
media-asset dedup, span-granular packing. The gate queries check the
same operators against the DuckDB oracle at corpus scale; these tests
pin the SEMANTICS on hand-built docs where every expected value is
computed independently in Python."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2gtfs_spark.operators import spans as SP

SPAN_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)
DOC_T = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("spans", SPAN_T)]
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOC_T)


@pytest.fixture(scope="module")
def corpus(spark):
    # doc 1: text(5) image text(3); doc 2: image(shared with doc 1's) text(0)
    return _docs(
        spark,
        [
            (
                1,
                [
                    ("text", "ab cd", "", 999),
                    ("image", "", "m://shared", 999),
                    ("text", "x y", "", 999),
                ],
            ),
            (
                2,
                [
                    ("image", "", "m://shared", 0),
                    ("text", "", "", 7),
                    ("image", "", "m://only2", 3),
                ],
            ),
        ],
    )


def test_repair_offsets_cumulative_cost(spark, corpus):
    out = SP.repair_offsets(corpus, media_cost=2)
    flat = {
        (r.doc_id, r.pos): r.offset
        for r in SP.explode_spans(out).collect()
    }
    # doc 1: 0, 5 (len 'ab cd'), 5+2 (media_cost)
    assert flat[(1, 0)] == 0 and flat[(1, 1)] == 5 and flat[(1, 2)] == 7
    # doc 2: 0, 2 (media), 2 (+empty text 0)
    assert flat[(2, 0)] == 0 and flat[(2, 1)] == 2 and flat[(2, 2)] == 2


def test_reassemble_restores_order_after_scatter(spark, corpus):
    # round-robin scatter then reassemble: span sequence bit-identical
    flat = SP.explode_spans(corpus).repartition(7)
    back = SP.reassemble_spans(flat)
    orig = {r.doc_id: r.spans for r in corpus.collect()}
    got = {r.doc_id: r.spans for r in back.collect()}
    assert orig == got


def test_media_asset_table_winner_and_counts(spark, corpus):
    assets = {r.media_ref: r for r in SP.media_asset_table(corpus).collect()}
    assert set(assets) == {"m://shared", "m://only2"}
    s = assets["m://shared"]
    assert (s.canonical_doc, s.canonical_pos) == (1, 1)  # first occurrence
    assert s.n_copies == 2 and s.n_docs == 2
    o = assets["m://only2"]
    assert (o.canonical_doc, o.canonical_pos, o.n_copies, o.n_docs) == (2, 2, 1, 1)


def _pack_rows(spark, rows, **kw):
    return SP.pack_interleaved(_docs(spark, rows), **kw).collect()


def test_pack_interleaved_conservation_and_continuity(spark):
    # 5 docs, mixed spans; budget 10, media 4 tokens, one bucket so the
    # stream layout is fully deterministic and checkable end-to-end
    rows = [
        (i, [("text", "a b c", "", 0), ("image", "", f"m{i}", 0), ("text", "d e", "", 0)])
        for i in range(5)
    ]  # per doc: 3 + 4 + 2 = 9 tokens
    out = _pack_rows(spark, rows, budget=10, media_tokens=4, n_buckets=1)
    # token conservation: every span's token range fully placed
    placed = {}
    for r in out:
        placed.setdefault((r.doc_id, r.pos), []).append(r)
    for (d, p), segs in placed.items():
        segs.sort(key=lambda r: r.span_tok_start)
        assert segs[0].span_tok_start == 0
        for a, b in zip(segs, segs[1:]):
            assert a.span_tok_end == b.span_tok_start  # contiguous split
    total = sum(r.span_tok_end - r.span_tok_start for r in out)
    assert total == 5 * 9
    # chunk continuity: every chunk before the last is filled to budget
    by_chunk = {}
    for r in out:
        by_chunk.setdefault(r.chunk_id, 0)
        by_chunk[r.chunk_id] += r.span_tok_end - r.span_tok_start
    last = max(by_chunk)
    for c, n in by_chunk.items():
        assert n == 10 or c == last
    # stream order: doc 0 spans start at 0; doc 1 starts at token 9
    d1_first = min(
        (r for r in out if r.doc_id == 1 and r.pos == 0),
        key=lambda r: r.chunk_id,
    )
    assert d1_first.chunk_id * 10 + d1_first.chunk_tok_start == 9


def test_pack_interleaved_drops_zero_cost_spans(spark):
    rows = [(0, [("text", "", "", 0), ("text", "one", "", 0)])]
    out = _pack_rows(spark, rows, budget=8, media_tokens=4, n_buckets=1)
    assert {(r.pos) for r in out} == {1}


def test_pack_interleaved_bucket_isolation(spark):
    # two buckets: chunk ids never collide across buckets in meaning —
    # each bucket's stream starts at token 0
    rows = [
        (0, [("text", "a b", "", 0)]),
        (1, [("text", "c d", "", 0)]),
    ]
    out = _pack_rows(spark, rows, budget=8, media_tokens=4, n_buckets=2)
    for r in out:
        assert r.chunk_id == 0 and r.chunk_tok_start == 0
        assert r.bucket == r.doc_id % 2


import random


def _random_corpus(seed, n_docs=12):
    rng = random.Random(seed)
    words = ["alpha", "beta", "gm", "d", "epsilon xi", ""]
    rows = []
    for d in range(n_docs):
        spans = []
        for i in range(rng.randint(0, 7)):
            if rng.random() < 0.3:
                spans.append(("image", "", f"m://{rng.randint(0, 5)}", i))
            else:
                txt = " ".join(rng.choice(words) for _ in range(rng.randint(0, 4)))
                spans.append(("text", txt, "", i))
        rows.append((d, spans))
    return rows


@pytest.mark.parametrize("seed", [7, 99, 4242])
def test_pack_interleaved_conservation_property(spark, seed):
    """Packing conserves every span's token mass, splits contiguously,
    and fills every non-final chunk of each bucket exactly to budget —
    for arbitrary corpora, not just the hand-built cases."""
    rows = _random_corpus(seed)
    docs = _docs(spark, rows)
    budget, media = 7, 3
    out = SP.pack_interleaved(docs, budget=budget, media_tokens=media, n_buckets=3).collect()

    def cost(kind, text):
        if kind != "text":
            return media
        if not text:
            return 0
        return len(text) - len(text.replace(" ", "")) + 1

    expected = {
        (d, i): cost(k, t)
        for d, spans in rows
        for i, (k, t, _, _) in enumerate(spans)
        if cost(k, t) > 0
    }
    got = {}
    for r in out:
        got.setdefault((r.doc_id, r.pos), []).append(r)
    assert set(got) == set(expected)
    for key, segs in got.items():
        segs.sort(key=lambda r: r.span_tok_start)
        assert segs[0].span_tok_start == 0
        assert segs[-1].span_tok_end == expected[key]
        for a, b in zip(segs, segs[1:]):
            assert a.span_tok_end == b.span_tok_start
    fill = {}
    for r in out:
        fill[(r.bucket, r.chunk_id)] = fill.get((r.bucket, r.chunk_id), 0) + (
            r.span_tok_end - r.span_tok_start
        )
    for (bucket, chunk), n in fill.items():
        last = max(c for b, c in fill if b == bucket)
        assert n == budget or chunk == last


@pytest.mark.parametrize("seed", [11, 303])
def test_repair_offsets_matches_python_model(spark, seed):
    rows = _random_corpus(seed)
    out = SP.repair_offsets(_docs(spark, rows), media_cost=4)
    got = {
        (r.doc_id, r.pos): r.offset for r in SP.explode_spans(out).collect()
    }
    for d, spans in rows:
        acc = 0
        for i, (k, t, _, _) in enumerate(spans):
            assert got[(d, i)] == acc
            acc += len(t) if k == "text" else 4
