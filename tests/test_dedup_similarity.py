"""Dedup + similarity operators vs brute-force pandas oracles.

The SQL-expressible chains (minhash/LSH/jaccard) are verified by the
driver's DuckDB gate; here we validate what SQL can't: simhash hamming
behavior, LSH ANN recall, and the multimodal plumbing shapes.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.operators import dedup as DD
from osm2gtfs_spark.operators import multimodal as MM
from osm2gtfs_spark.operators import similarity as SIM


def dequantize(codes, scale):
    """int8 codes + scale → approximate float vector: the inverse of
    ``similarity.quantize_embeddings`` the roundtrip checks use."""
    return F.transform(codes, lambda c: c.cast("double") * scale)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_simhash_identical_and_near_texts(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # identical
        (3, "the quick brown fox leaps over the lazy dog"),  # 1 token diff
        (4, "completely different words entirely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.sh for r in df.select("doc_id", DD.simhash64(F.col("text")).alias("sh")).collect()}
    assert sh[1] == sh[2], "identical text → identical simhash"

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sh[1], sh[3]) < hamming(sh[1], sh[4]), (
        "near text must be closer in hamming space than unrelated text"
    )


def test_lsh_ann_recall_vs_bruteforce(emb):
    """Multi-table hyperplane LSH must reach ≥0.5 recall@5 on this
    corpus (structured labels → strong clusters; typical recall ~0.8)."""
    q = emb.filter(F.col("vec_id") < 20)
    brute = SIM.cosine_topk_bruteforce(q, emb, k=5)
    approx = SIM.cosine_topk_lsh(q, emb, dim=64, k=5)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.select("query_id", "neighbor_id").collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"LSH recall@5 too low: {recall:.2f}"


def test_lsh_hot_bucket_cap_subquadratic(spark):
    """VERDICT r2 item 2: on a skewed corpus (one dominant direction)
    the hot-bucket cap must keep the candidate-pair count sub-quadratic.
    threshold=-1 turns embedding_near_dup into a candidate-set probe
    (every candidate passes), so the public API is what's measured."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal(16)
    rows = [(i, [float(x) for x in base]) for i in range(300)]  # hot direction
    rows += [(300 + i, [float(x) for x in rng.standard_normal(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    uncapped = SIM.embedding_near_dup(df, dim=16, threshold=-1.0, max_bucket=None).count()
    capped = SIM.embedding_near_dup(df, dim=16, threshold=-1.0, max_bucket=50).count()
    assert uncapped >= 300 * 299 // 2, "skew setup must be quadratic without the cap"
    assert capped < 25_000, f"cap failed: {capped} candidate pairs"
    assert capped < uncapped / 2


def test_auto_n_planes_sizing():
    """Bucket-count sizing rule: expected bucket ≈ TARGET_BUCKET_ROWS."""
    assert SIM.auto_n_planes(500) == 4  # gate corpus keeps r2 behavior
    assert SIM.auto_n_planes(10**6) == 15
    assert SIM.auto_n_planes(10**9) == 24  # capped
    assert SIM.auto_n_planes(1) == 4


def test_auto_planes_matches_explicit_at_gate_scale(emb):
    q = emb.filter(F.col("vec_id") < 5)
    explicit = SIM.cosine_topk_lsh(q, emb, dim=64, k=5, n_planes=4)
    auto = SIM.cosine_topk_lsh(q, emb, dim=64, k=5, n_planes=None)
    assert explicit.exceptAll(auto).count() == 0
    assert auto.exceptAll(explicit).count() == 0


def test_bruteforce_topk_matches_numpy(emb):
    pdf = emb.toPandas()
    mat = np.vstack(pdf.embedding.values).astype(np.float64)
    ids = pdf.vec_id.values
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat_n[:3] @ mat_n.T
    expected = {}
    for qi in range(3):
        order = sorted(
            [(s, int(i)) for s, i in zip(sims[qi], ids) if i != ids[qi]],
            key=lambda t: (-t[0], t[1]),
        )
        expected[int(ids[qi])] = [i for _, i in order[:5]]
    got = SIM.cosine_topk_bruteforce(
        emb.filter(F.col("vec_id") < 3), emb, k=5
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert by_q == expected


def test_embedding_near_dup_threshold(emb):
    pairs = SIM.embedding_near_dup(emb, dim=64, threshold=0.9).collect()
    # verify every returned pair actually exceeds the threshold
    pdf = emb.toPandas().set_index("vec_id")
    for r in pairs[:50]:
        a = np.array(pdf.loc[r.id_a].embedding, dtype=np.float64)
        b = np.array(pdf.loc[r.id_b].embedding, dtype=np.float64)
        cos = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        assert cos >= 0.9 - 1e-9


def test_media_decode_plumbing(spark):
    from osm2gtfs_spark.sources import docs as D

    docs = D.docs_df(spark, D.CitySpec(n_lines=2))
    media = docs.select(
        "doc_id", F.explode(F.filter("spans", lambda s: s.kind == F.lit("image"))).alias("s")
    ).select("doc_id", F.col("s.media_ref").alias("media_ref"))
    assert media.count() > 0
    meta = MM.decode_media(media, fake=True)
    rows = meta.collect()
    assert all(64 <= r.width < 256 and 64 <= r.height < 256 for r in rows)
    assert all(len(r.features) == MM.FEATURE_DIM for r in rows)
    # determinism: same media_ref → same decode
    meta2 = {(r.doc_id, r.media_ref): (r.width, r.height) for r in MM.decode_media(media, fake=True).collect()}
    for r in rows:
        assert meta2[(r.doc_id, r.media_ref)] == (r.width, r.height)
    # real decode path is stubbed
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplemented|decode"):
        MM.decode_media(media, fake=False).collect()


def test_lsh_bucket_skew_guard(docs):
    """max_bucket drops degenerate buckets instead of exploding pairs."""
    bands = DD.minhash_bands("doc_id", "text", docs, k=8, band_size=1)
    unlimited = DD.lsh_candidate_pairs(bands, max_bucket=None).count()
    capped = DD.lsh_candidate_pairs(bands, max_bucket=10).count()
    assert capped <= unlimited


# (id, band_idx, band_hash): key (0, "a") is hot on the left only,
# (0, "b") on the right only, at cap 2
BUCKET_LEFT = [(1, 0, "a"), (2, 0, "a"), (3, 0, "a"), (4, 0, "b"), (5, 1, "a"), (2, 1, "a"), (1, 1, "c")]
BUCKET_RIGHT = [(3, 0, "a"), (7, 0, "a"), (4, 0, "b"), (8, 0, "b"), (9, 0, "b"), (2, 1, "a"), (6, 1, "a"), (1, 1, "c")]
PAIR_PREDICATES = {None: lambda a, b: True, "<": lambda a, b: a < b, "!=": lambda a, b: a != b}


@pytest.mark.parametrize("pair", [None, "<", "!="])
@pytest.mark.parametrize("capped", [False, True])
@pytest.mark.parametrize("self_join", [False, True])
def test_bucket_pairs_matches_brute_force(spark, pair, capped, self_join):
    """bucket_pairs == the brute-force pair set over every bucket; the
    hot set (counted on the left) drops a key from BOTH sides, a key hot
    only on the right stays."""
    schema = "doc_id long, band_idx int, band_hash string"
    left = spark.createDataFrame(BUCKET_LEFT, schema)
    right = left if self_join else spark.createDataFrame(BUCKET_RIGHT, schema)
    hot = DD.hot_keys(left, DD.BAND_KEYS, 2) if capped else None
    got = DD.bucket_pairs(
        left, right, DD.BAND_KEYS, ("doc_id", "id_l"), ("doc_id", "id_r"), pair, hot
    )
    assert got.columns == ["id_l", "id_r"]
    hot_set = {(0, "a")} if capped else set()
    want = {
        (i, j)
        for i, *k in BUCKET_LEFT
        for j, *k2 in (BUCKET_LEFT if self_join else BUCKET_RIGHT)
        if k == k2 and tuple(k) not in hot_set and PAIR_PREDICATES[pair](i, j)
    }
    rows = [(r.id_l, r.id_r) for r in got.collect()]
    assert len(rows) == len(set(rows)), "pairs must be distinct"
    assert set(rows) == want


def test_hot_keys_counts_rows_above_cap(spark):
    df = spark.createDataFrame(BUCKET_RIGHT, "doc_id long, band_idx int, band_hash string")
    assert {tuple(r) for r in DD.hot_keys(df, DD.BAND_KEYS, 2).collect()} == {(0, "b")}
    assert {tuple(r) for r in DD.hot_keys(df, DD.BAND_KEYS, 1).collect()} == {(0, "a"), (0, "b"), (1, "a")}
    assert DD.hot_keys(df, DD.BAND_KEYS, None) is None
    with pytest.raises(ValueError, match="pair must be"):
        DD.bucket_pairs(df, df, DD.BAND_KEYS, ("doc_id", "a"), ("doc_id", "b"), ">")


def test_ivf_topk_recall_and_exactness(spark, sf_dir):
    """IVF coarse-quantizer ANN: recall grows with nprobe and probing
    ALL cells recovers exact brute-force results (the posting lists
    partition the corpus — no candidates are lost, only skipped)."""
    from osm2gtfs_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    cents = S.ivf_centroids(emb, n_cells=8, iters=3)
    assert len(cents) == 8 and len(cents[0]) == 64
    q = emb.filter("vec_id < 15")
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in S.cosine_topk_bruteforce(q, emb, k=5).collect()
    }
    rec = {}
    for nprobe in (2, 8):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in S.cosine_topk_ivf(q, emb, cents, k=5, nprobe=nprobe).collect()
        }
        rec[nprobe] = len(brute & got) / len(brute)
    assert rec[8] == 1.0, f"nprobe=n_cells must be exact, got {rec[8]}"
    assert rec[2] <= rec[8]


def test_ivf_cells_cover_corpus(spark, sf_dir):
    from pyspark.sql import functions as F

    from osm2gtfs_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = S.ivf_centroids(emb, n_cells=8, iters=2)
    assigned = S.ivf_assign(emb, cents)
    assert assigned.count() == emb.count()  # partition, not a filter
    assert assigned.filter((F.col("cell") < 0) | (F.col("cell") >= 8)).count() == 0


def _png_bytes(w, h):
    import struct, zlib
    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x80" * (3 * w) for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", __import__("zlib").compress(raw)) + chunk(b"IEND", b""))


def _gif_bytes(w, h, frames):
    import struct
    out = b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x80, 0, 0]) + b"\x00\x00\x00\xff\xff\xff"
    for _ in range(frames):
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += b"\x02" + bytes([2, 0x4C, 0x01]) + b"\x00"  # minimal LZW data
    return out + b"\x3b"


def _jpeg_bytes(w, h):
    import struct
    sof0 = struct.pack(">HBHHB", 8 + 3 * 1, 8, h, w, 1) + b"\x01\x11\x00"
    return (b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + sof0 + b"\xff\xd9")


def _wav_bytes(n_frames, channels=2, bits=16, rate=8000):
    import io, wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(bits // 8)
        wf.setframerate(rate)
        wf.writeframes(b"\x00" * (n_frames * channels * (bits // 8)))
    return buf.getvalue()


def test_media_real_decode(spark):
    """fake=False parses REAL bytes: PNG/GIF/JPEG/BMP/WAV header decode."""
    import struct
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 33, -44) + b"\x00" * 20
    rows = [
        ("d1", "a.png", bytearray(_png_bytes(320, 200))),
        ("d2", "b.gif", bytearray(_gif_bytes(64, 48, 3))),
        ("d3", "c.jpg", bytearray(_jpeg_bytes(123, 77))),
        ("d4", "d.bmp", bytearray(bmp)),
        ("d5", "e.wav", bytearray(_wav_bytes(1000))),
        ("d6", "f.bin", bytearray(b"\x00\x01garbage")),
        ("d7", "g.nul", None),
    ]
    media = spark.createDataFrame(rows, "doc_id string, media_ref string, media_blob binary")
    got = {r.media_ref: (r.width, r.height, r.n_frames) for r in MM.decode_media(media, fake=False).collect()}
    assert got["a.png"] == (320, 200, 1)
    assert got["b.gif"] == (64, 48, 3)
    assert got["c.jpg"] == (123, 77, 1)
    assert got["d.bmp"] == (33, 44, 1)
    assert got["e.wav"] == (2, 16, 1000)  # channels, bits, sample frames
    assert got["f.bin"] == (None, None, None)
    assert got["g.nul"] == (None, None, None)
    # features are content-derived byte histograms that sum to ~1
    feats = {r.media_ref: r.features for r in MM.decode_media(media, fake=False).collect()}
    assert abs(sum(feats["a.png"]) - 1.0) < 1e-5
    assert len(feats["g.nul"]) == MM.FEATURE_DIM


def test_connected_components_chain_and_cliques(spark):
    """Pointer-jumping CC: long chain (worst diameter) + separate clique
    + isolated pair all resolve to min-id components."""
    chain = [(i, i + 1) for i in range(30)]            # 0-1-2-...-30
    clique = [(100 + a, 100 + b) for a in range(4) for b in range(a + 1, 4)]
    pair = [(500, 501)]
    pairs = spark.createDataFrame(chain + clique + pair, "doc_a long, doc_b long")
    got = {r.doc_id: r.component_id for r in DD.connected_components(pairs).collect()}
    assert all(got[i] == 0 for i in range(31))
    assert all(got[100 + i] == 100 for i in range(4))
    assert got[500] == got[501] == 500
    assert len(got) == 31 + 4 + 2


def test_connected_components_nonconvergence_raises(spark):
    """ADVICE r2: exhausting max_iters with labels still moving must be
    an error, not silently-split components."""
    chain = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        # small_graph_threshold=0 pins the ITERATIVE path (the r6
        # small-graph union-find needs no rounds, so it cannot
        # non-converge — this contract is about the loop)
        DD.connected_components(pairs, max_iters=1, small_graph_threshold=0)


def test_connected_components_small_path_matches_iterative(spark):
    """Optimization r6: the threshold-gated driver union-find must
    produce exactly the iterative loop's min-label fixpoint — on a
    random graph with chains, cliques, singleton-free vertices and a
    string-keyed variant."""
    import random

    rng = random.Random(6)
    edges = [(i, i + 1) for i in range(0, 30, 3)]  # short chains
    edges += [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]
    edges += [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(80)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    small = {(r.doc_id, r.component_id) for r in DD.connected_components(pairs).collect()}
    iterative = {
        (r.doc_id, r.component_id)
        for r in DD.connected_components(pairs, small_graph_threshold=0).collect()
    }
    assert small == iterative
    spairs = spark.createDataFrame(
        [(f"k/{a}", f"k/{b}") for a, b in edges], "doc_a string, doc_b string"
    )
    ssmall = {(r.doc_id, r.component_id) for r in DD.connected_components(spairs).collect()}
    siter = {
        (r.doc_id, r.component_id)
        for r in DD.connected_components(spairs, small_graph_threshold=0).collect()
    }
    assert ssmall == siter


def test_connected_components_nan_ids_complete(spark):
    """A NaN double id is not equal to itself, so a driver union-find
    walking to its root never stops: double ids must take the iterative
    path. Run in a daemon thread so a hang fails instead of stalling."""
    import threading

    nan = float("nan")
    pairs = spark.createDataFrame(
        [(1.0, nan), (nan, 2.0), (3.0, 4.0)], "doc_a double, doc_b double"
    )
    out = {}
    t = threading.Thread(
        target=lambda: out.update(rows=DD.connected_components(pairs).collect()), daemon=True
    )
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "connected_components did not return on NaN ids"
    iterative = DD.connected_components(pairs, small_graph_threshold=0).collect()

    def labels(rows):  # repr: NaN != NaN would fail a direct compare
        return sorted((repr(r.doc_id), repr(r.component_id)) for r in rows)

    assert labels(out["rows"]) == labels(iterative)


def test_wav_non_pcm_and_subbyte_null(spark):
    """ADVICE r2: non-PCM codecs / sub-byte sample widths get NULL dims
    (the frame math assumes whole-byte PCM), not a bogus frame count."""
    import struct

    def wav(audio_fmt, channels, bits, data=b"\x00" * 64):
        fmt = struct.pack("<HHIIHH", audio_fmt, channels, 8000, 8000, 1, bits)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    rows = [
        ("a", "pcm.wav", bytearray(wav(1, 2, 16))),
        ("b", "adpcm.wav", bytearray(wav(2, 1, 4))),   # ADPCM, 4-bit
        ("c", "float.wav", bytearray(wav(3, 1, 32))),  # IEEE float codec
    ]
    media = spark.createDataFrame(rows, "doc_id string, media_ref string, media_blob binary")
    got = {r.media_ref: (r.width, r.height, r.n_frames) for r in MM.decode_media(media, fake=False).collect()}
    assert got["pcm.wav"] == (2, 16, 16)  # 64 bytes / (2ch*2B)
    assert got["adpcm.wav"] == (None, None, None)
    assert got["float.wav"] == (None, None, None)


def test_media_decode_corrupt_containers(spark):
    """Review regression: truncated RIFF/odd bytes yield NULL dims, not a
    task crash."""
    rows = [
        ("t1", "trunc.wav", bytearray(b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE" + b"fmt " + b"\x10\x00\x00\x00")),
        ("t2", "webpish.bin", bytearray(b"RIFF" + b"\x10\x00\x00\x00" + b"WEBP" + b"VP8 ")),
        ("t3", "tiny.png", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4)),
    ]
    media = spark.createDataFrame(rows, "doc_id string, media_ref string, media_blob binary")
    got = {r.media_ref: (r.width, r.height, r.n_frames) for r in MM.decode_media(media, fake=False).collect()}
    assert got["trunc.wav"][2] in (None, 0)   # no data chunk → 0 frames or NULL
    assert got["webpish.bin"] == (None, None, None)
    assert got["tiny.png"] == (None, None, None)


def test_deterministic_sample_layout_invariant(spark, sf_dir):
    """The hash-gated sample is identical regardless of partitioning —
    the property df.sample() lacks."""
    from osm2gtfs_spark.operators.sampling import deterministic_sample, stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r.doc_id for r in deterministic_sample(d, "doc_id", 50).collect()}
    b = {r.doc_id for r in deterministic_sample(d.repartition(17), "doc_id", 50).collect()}
    assert a == b and 0 < len(a) < d.count()
    sa = {(r.doc_id, r.lang) for r in stratified_sample(d, "doc_id", "lang", 5).collect()}
    sb = {(r.doc_id, r.lang) for r in stratified_sample(d.repartition(17), "doc_id", "lang", 5).collect()}
    assert sa == sb
    import collections
    per = collections.Counter(lang for _, lang in sa)
    assert all(v <= 5 for v in per.values()) and len(per) > 1


def test_quantize_dequantize_roundtrip(spark):
    """int8 quantization: per-element reconstruction error < scale,
    zero vectors stay zero, codes within int8 range."""
    rows = [
        (1, [0.5, -1.0, 0.25, 0.999]),
        (2, [0.0, 0.0, 0.0, 0.0]),     # zero vector
        (3, [100.0, -100.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = SIM.quantize_embeddings(df)
    back = q.select(
        "vec_id", "scale", dequantize(F.col("codes"), F.col("scale")).alias("approx")
    )
    got = {r.vec_id: r for r in back.join(df, "vec_id").collect()}
    for vid, orig in rows:
        r = got[vid]
        if all(v == 0 for v in orig):
            assert r.scale == 0 and all(a == 0 for a in r.approx)
            continue
        assert r.scale > 0
        for a, v in zip(r.approx, orig):
            assert abs(a - v) <= r.scale + 1e-12, (vid, a, v, r.scale)
    codes = {r.vec_id: r.codes for r in q.collect()}
    assert all(-128 <= c <= 127 for cs in codes.values() for c in cs)
    # extremes land in the top bins (floor semantics: q-1 or q depending
    # on FP rounding of max/scale — the error bound above is the contract)
    assert max(codes[3]) >= 126 and min(codes[3]) <= -127


def test_hyperplane_pandas_path_agrees_with_literal(emb):
    """Review r3: auto-sized n_planes × big dim must not build 200k+
    literal expressions — the numpy matmul path takes over above
    LITERAL_BUDGET and must produce the identical bucket table."""
    lit = SIM.hyperplane_buckets(emb, dim=64, n_planes=4, n_tables=3, force_pandas=False)
    pnd = SIM.hyperplane_buckets(emb, dim=64, n_planes=4, n_tables=3, force_pandas=True)
    # same names/types (nullability differs: literal exprs are
    # provably non-null, mapInPandas fields are nullable by default)
    assert [(f.name, f.dataType) for f in lit.schema] == [
        (f.name, f.dataType) for f in pnd.schema
    ]
    assert lit.exceptAll(pnd).count() == 0
    assert pnd.exceptAll(lit).count() == 0
    # the auto switch: big configuration routes through mapInPandas
    big = SIM.hyperplane_buckets(emb, dim=64, n_planes=24, n_tables=16)
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan


def test_lsh_default_args_scale_safe(spark):
    """VERDICT r3 item 1: with DEFAULT arguments a large corpus must
    return non-empty results with sub-quadratic candidates — the old
    fixed n_planes=4 default made every bucket hot at ≥16k vectors and
    the cap silently emptied the result."""
    n, tail = 20_000, 10
    df = (
        spark.range(n)
        .withColumn(
            "key",
            F.when(F.col("id") >= n - tail, F.col("id") - (n - tail)).otherwise(F.col("id")),
        )
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda i: F.pmod(F.xxhash64(F.col("key"), i), F.lit(10000)).cast("double")
                / 5000.0
                - 1.0,
            ).alias("embedding"),
        )
        .cache()
    )
    pairs = SIM.embedding_near_dup(df, dim=8, threshold=0.999).cache()
    got = {(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()}
    planted = {(j, n - tail + j) for j in range(tail)}
    assert planted <= got, f"planted duplicates missed: {planted - got}"
    # sub-quadratic candidate probe (threshold=-1 passes every candidate)
    cand = SIM.embedding_near_dup(df, dim=8, threshold=-1.0).count()
    assert 0 < cand < n * 1200, f"candidate count not sub-quadratic: {cand}"
    df.unpersist()
    pairs.unpersist()


def test_lsh_all_hot_buckets_raises(spark):
    """If max_bucket would eliminate EVERY bucket (planes too coarse),
    the call must fail loudly, not return an empty frame."""
    base = [float(x) for x in np.random.default_rng(3).standard_normal(8)]
    df = spark.createDataFrame(
        [(i, base) for i in range(200)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="eliminates all"):
        SIM.embedding_near_dup(df, dim=8, n_planes=2, max_bucket=20, threshold=-1.0).count()
    with pytest.raises(ValueError, match="eliminates all"):
        SIM.cosine_topk_lsh(
            df.limit(5), df, dim=8, n_planes=2, max_bucket=20
        ).count()


def test_ivf_init_bounded_topk_plan(emb):
    """VERDICT r3 item 3: centroid init must be per-partition bounded
    top-k (TakeOrderedAndProject), never a global Sort + Exchange."""
    init = (
        emb.select("embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(42)))
        .limit(8)
    )
    plan = init._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


def test_hyperplane_json_planes_constant_folded(emb):
    """The from_json plane tensor must fold to an array literal at
    optimization time — a per-row JSON parse would be a scale killer."""
    b = SIM.hyperplane_buckets(emb, dim=64, n_planes=4, n_tables=2)
    opt = b._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in opt, opt[:800]


def test_ivf_centroids_match_numpy_reference(spark):
    """The mapInPandas partial-sum Lloyd must equal a single-machine
    numpy Lloyd from the same init (assign = argmax cosine, first index
    on ties; update = arithmetic mean; empty cell keeps its centroid)."""
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((60, 6))
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    # reproduce the engine's seed-stable init through the same expression
    init_rows = (
        df.select("vec_id").orderBy(F.xxhash64(F.col("vec_id"), F.lit(42))).limit(4).collect()
    )
    cents = np.array([mat[r.vec_id] for r in init_rows])
    for _ in range(3):
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-300)
        vn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
        cell = np.argmax(vn @ cn.T, axis=1)
        nxt = cents.copy()
        for c in range(4):
            if (cell == c).any():
                nxt[c] = mat[cell == c].mean(axis=0)
        cents = nxt
    got = np.array(SIM.ivf_centroids(df, n_cells=4, iters=3))
    assert np.allclose(got, cents, atol=1e-9), np.abs(got - cents).max()
    # determinism: same input partitioning -> bit-identical output
    again = SIM.ivf_centroids(df, n_cells=4, iters=3)
    assert got.tolist() == again


def test_connected_components_reliable_checkpoint(spark, reliable_checkpoints):
    """VERDICT r3 item 4: with a checkpoint dir on the SparkContext,
    lineage truncation writes RELIABLE checkpoints (survive executor
    loss); results identical."""
    import os

    chain = [(i, i + 1) for i in range(12)] + [(50, 51)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with reliable_checkpoints() as ckdir:
        got = {
            r.doc_id: r.component_id
            for r in DD.connected_components(
                # small_graph_threshold=0 pins the iterative path — this
                # contract is about the reliable-checkpoint machinery,
                # which only the loop exercises
                pairs, small_graph_threshold=0
            ).collect()
        }
    assert all(got[i] == 0 for i in range(13))
    assert got[50] == got[51] == 50
    # the reliable checkpoint actually materialized RDD state on disk
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "no reliable checkpoint files written"


def test_null_text_agrees_with_oracle(spark):
    """NULL, empty and plain text give what the DuckDB oracle SQL gives,
    for shingles, repetition_stats and ngram_jaccard."""
    import duckdb

    from osm2gtfs_spark.operators import text as TXT
    from osm2gtfs_spark.plans import queries as Q

    rows = [(1, None), (2, ""), (3, "a b c d")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    sh_sql = DD.shingles_sql("text", 3)

    sh = docs.select("doc_id", DD.shingles(F.col("text"), 3).alias("sh"))
    got = {r.doc_id: r.sh and sorted(r.sh) for r in sh.collect()}
    want = {i: sorted(sh) for i, sh in con.execute(f"SELECT doc_id, {sh_sql} FROM documents").fetchall()}
    assert got == want

    got = sorted(tuple(r) for r in TXT.repetition_stats(docs, n=2).collect())
    want = sorted(con.execute(Q.oracle_sql()["doc_repetition"]).fetchall())
    assert got == want

    pairs = docs.alias("a").join(docs.alias("b"), F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    got = sorted(tuple(r) for r in DD.ngram_jaccard(pairs, docs).collect())
    want = sorted(con.execute(f"""
        WITH s AS (SELECT doc_id, {sh_sql} AS sh FROM documents)
        SELECT x.doc_id, y.doc_id,
               CAST(FLOOR(LEN(list_intersect(x.sh, y.sh)) * 1000.0
                    / LEN(list_distinct(x.sh || y.sh))) AS BIGINT)
        FROM s x JOIN s y ON x.doc_id < y.doc_id
    """).fetchall())
    assert got == want


def test_ann_over_quantized_embeddings_recall(emb):
    """Composition guarantee: brute-force ANN over int8-dequantized
    vectors recovers ≥0.8 of the exact float top-5 — the 4× posting
    compression keeps retrieval usable, not just roundtrip-bounded."""
    from pyspark.sql import functions as F

    q = SIM.quantize_embeddings(emb)
    deq = q.select(
        "vec_id", dequantize(F.col("codes"), F.col("scale")).alias("embedding")
    ).cache()
    queries = deq.filter(F.col("vec_id") < 15)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(queries, deq, k=5).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(emb.filter(F.col("vec_id") < 15), emb, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.8, f"quantized ANN recall too low: {recall:.2f}"
