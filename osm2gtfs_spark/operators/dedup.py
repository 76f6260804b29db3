"""Deduplication operators over document corpora.

The 100 TB training-data surface: exact dedup, MinHash+LSH banding,
n-gram Jaccard verification, SimHash. All the LSH machinery is pure
column expressions over MD5 — chosen deliberately: MD5 is bit-identical
in every engine (so the DuckDB correctness oracle reproduces the exact
same signatures), is computed JVM-side inside codegen, and its
lexicographic MIN over hex strings is a valid minhash.

Scale shape: signatures are per-row map work (no shuffle); the LSH
candidate join shuffles on (band_idx, band_hash) — collision buckets
only, never all-pairs; exact Jaccard verification runs only on
candidate pairs. Every banded candidate join in the engine (MinHash and
SimHash bands here, hyperplane buckets in ``similarity``) is one
:func:`bucket_pairs` call. Hot buckets (boilerplate text) are the skew
case: :func:`hot_keys` is the one row-count cap, anti-joined away
before the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm2gtfs_spark.operators import text as TXT
from osm2gtfs_spark.session import materialize


def shingles(text_col, n: int = 3) -> Column:
    """Distinct word n-gram shingles of :func:`~osm2gtfs_spark.operators.
    text.word_grams` (mirrors :func:`shingles_sql`)."""
    return F.array_distinct(TXT.word_grams(text_col, n))


def shingles_sql(text_expr: str, n: int = 3) -> str:
    """Identical shingling in DuckDB SQL (1-based lists)."""
    toks = f"string_split({text_expr}, ' ')"
    # DuckDB concat_ws skips NULLs like Spark; emulate via list_transform
    cat = ", ".join([f"{toks}[i + {j}]" for j in range(n)])
    return (
        f"list_distinct(list_transform(range(1, GREATEST(LEN({toks}) - {n - 1}, 1) + 1),"
        f" i -> concat_ws(' ', {cat})))"
    )


def _salted_min(sh: Column, salt: str) -> Column:
    # NB: the transform lambda must be single-arg — PySpark passes the
    # array index as a second argument when the lambda's arity is 2,
    # which would silently replace a closed-over default parameter.
    salt_col = F.lit(salt)
    return F.array_min(F.transform(sh, lambda s: F.md5(F.concat(salt_col, s))))


def minhash_signature(sh: Column, k: int = 8) -> list[Column]:
    """k minhashes: lexicographic MIN of salted MD5 over the shingle set."""
    return [_salted_min(sh, f"{i}:").alias(f"mh{i}") for i in range(k)]


def minhash_signature_sql(sh_expr: str, k: int = 8) -> list[str]:
    return [
        f"list_aggregate(list_transform({sh_expr}, s -> md5('{i}:' || s)), 'min') AS mh{i}"
        for i in range(k)
    ]


def minhash_signature_fast(sh: Column, k: int = 8) -> Column:
    """Scale-path minhash: ONE pass over the shingle array producing all
    k minhashes (array<long>).

    A single ``F.aggregate`` folds the shingles into a k-wide min
    accumulator; each shingle is built and hashed exactly once per salt
    (xxhash64(s, salt)). The naive formulation — k separate
    array_min(transform(...)) columns — re-evaluates the whole shingle
    transform k times because higher-order expressions get no common
    subexpression elimination; this version is the 100 TB path. The MD5
    variant exists for bit-identical SQL oracles (sf0.01 gate); near-dup
    agreement between the families is asserted in tests."""
    init = F.array(*[F.lit((1 << 63) - 1).cast("long") for _ in range(k)])

    # Kirsch-Mitzenmacher double hashing: hash each shingle STRING only
    # twice (a, b), derive the k family members as a + i·b (64-bit wrap).
    # The transform stage is load-bearing: higher-order lambdas get no
    # common-subexpression elimination, so inlining xxhash64(s) into the
    # fold would re-hash the string k times per shingle.
    ab = F.transform(
        sh,
        lambda s: F.struct(
            F.xxhash64(s).alias("a"), F.xxhash64(s, F.lit(1)).alias("b")
        ),
    )

    def merge(acc: Column, h: Column) -> Column:
        hashes = F.array(*[h["a"] + F.lit(i).cast("long") * h["b"] for i in range(k)])
        return F.zip_with(acc, hashes, lambda x, y: F.least(x, y))

    return F.aggregate(ab, init, merge)


def minhash_bands_fast(doc_id: str, text_col: str, docs: DataFrame, k: int = 8, band_size: int = 2) -> DataFrame:
    """Fast-path LSH bucketing: (doc_id, band_idx, band_hash long)."""
    sig = docs.select(F.col(doc_id), minhash_signature_fast(shingles(F.col(text_col)), k).alias("sig"))
    n_bands = k // band_size
    bands = F.array(
        *[
            F.xxhash64(*[F.col("sig")[b * band_size + j] for j in range(band_size)])
            for b in range(n_bands)
        ]
    )
    return sig.select(doc_id, F.posexplode(bands).alias("band_idx", "band_hash"))


def minhash_signature_md5_fold(sh: Column, k: int = 8) -> Column:
    """All k MD5 minhashes in ONE aggregate fold (array<string>).

    Bit-identical to :func:`minhash_signature` (same ``i:`` salts, same
    lexicographic min over md5 hex), but the shingle array is traversed
    once by a compact expression instead of k independent
    array_min(transform(...)) trees. The compactness is load-bearing
    for the banding step: posexplode's GenerateExec re-evaluates its
    generator per OUTPUT row outside whole-stage codegen, so feeding it
    k inlined signature trees cost ~18× (4.8 s vs 0.27 s on the sf0.01
    gate corpus). Init sentinel 'g' sorts after every md5 hex digit."""
    init = F.array_repeat(F.lit("g"), k)

    def merge(acc: Column, s: Column) -> Column:
        hs = F.array(*[F.md5(F.concat(F.lit(f"{i}:"), s)) for i in range(k)])
        return F.zip_with(acc, hs, lambda x, y: F.least(x, y))

    return F.aggregate(sh, init, merge)


def minhash_bands(doc_id: str, text_col: str, docs: DataFrame, k: int = 8, band_size: int = 2) -> DataFrame:
    """docs → (doc_id, band_idx, band_hash): the LSH bucketing table.

    The signature lands in an intermediate projection referenced k/band
    times by the band hashes — an expensive multi-referenced alias, which
    CollapseProject deliberately does NOT inline, so the fold runs once
    per row and the posexplode generator only hashes k strings."""
    sig = docs.select(
        F.col(doc_id), minhash_signature_md5_fold(shingles(F.col(text_col)), k).alias("sig")
    )
    n_bands = k // band_size
    bands = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col("sig")[b * band_size + j] for j in range(band_size)]))
            for b in range(n_bands)
        ]
    )
    return sig.select(doc_id, F.posexplode(bands).alias("band_idx", "band_hash"))


BAND_KEYS = ["band_idx", "band_hash"]


def hot_keys(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame | None:
    """The ``keys`` whose row count in ``df`` is above ``cap``, as a lazy
    frame (None when ``cap`` is None: no cap).

    The one hot-key cap of the banded joins and the stopword guard: a
    bucket of m rows yields m²/2 pairs (a posting list of m docs), so
    one hot key — boilerplate text, all-zero embeddings, a stopword —
    dominates the whole join. The frame is anti-joined away by
    :func:`bucket_pairs`; it is never collected, so a hot set of any
    size stays distributed."""
    if cap is None:
        return None
    return df.groupBy(*keys).count().filter(F.col("count") > cap).select(*keys)


def bucket_pairs(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_id: tuple[str, str],
    right_id: tuple[str, str],
    pair: str | None = None,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Distinct (left id, right id) pairs that share a bucket: the one
    candidate join of the MinHash, SimHash and hyperplane LSH sites.

    ``left_id`` / ``right_id`` are (id column, output name) per side.
    In order: ``hot`` (a :func:`hot_keys` frame) is broadcast and
    anti-joined away from each distinct input frame (once when ``left``
    is ``right``), the sides are equi-joined on ``keys``, ``pair`` keeps
    ``"<"`` (left < right) or ``"!="`` pairs (None keeps all), and the
    pairs are made distinct. Only bucket collisions shuffle, never all
    pairs."""
    if pair not in (None, "<", "!="):
        raise ValueError(f"pair must be None, '<' or '!=', got {pair!r}")
    if hot is not None:
        capped = left.join(F.broadcast(hot), keys, "left_anti")
        right = capped if right is left else right.join(F.broadcast(hot), keys, "left_anti")
        left = capped
    (lc, a), (rc, b) = left_id, right_id
    j = left.select(F.col(lc).alias(a), *keys).join(right.select(F.col(rc).alias(b), *keys), keys)
    if pair is not None:
        j = j.filter(F.col(a) < F.col(b) if pair == "<" else F.col(a) != F.col(b))
    return j.select(a, b).distinct()


def lsh_candidate_pairs(
    bands: DataFrame, doc_id: str = "doc_id", max_bucket: int | None = 1000
) -> DataFrame:
    """Self-join per band bucket → distinct candidate pairs (a < b).

    ``max_bucket`` drops degenerate buckets (boilerplate/empty text that
    collides everywhere) — the skew guard of :func:`hot_keys`."""
    # ``bands`` is referenced up to three times below (bucket-size agg +
    # both sides of the self join); when the caller hands a raw
    # signature-fold plan, each reference re-folds the text (higher-
    # order folds get no CSE across plan references — optimization r6,
    # same boundary as incremental_dedup). The band rows are narrow
    # (id, idx, hash), so they are materialized once.
    bands = materialize(bands)
    return bucket_pairs(
        bands, bands, BAND_KEYS, (doc_id, "doc_a"), (doc_id, "doc_b"), "<",
        hot_keys(bands, BAND_KEYS, max_bucket),
    )


def ngram_jaccard(pairs: DataFrame, docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (permille, floored)."""
    # the shingle projection feeds BOTH sides of the pair join — without
    # a materialization boundary every doc is shingled twice
    # (optimization r6, same rationale as the band-table checkpoint)
    sh = materialize(docs.select(F.col(doc_id), shingles(F.col(text_col), n).alias("sh")))
    j = (
        pairs.join(sh.select(F.col(doc_id).alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sh.select(F.col(doc_id).alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "doc_a",
        "doc_b",
        F.floor(inter * 1000.0 / union).cast("long").alias("jaccard_permille"),
    )


def simhash64(text_col) -> Column:
    """64-bit SimHash from xxhash64 token hashes (engine-side only).

    Per-bit majority vote over token hashes. ONE fold over the token
    array carrying a 64-wide counter accumulator (same scale pattern as
    :func:`minhash_signature_fast`): each token hash contributes ±1 to
    all 64 counters in a single ``zip_with``, so the array is traversed
    once — not 64 times as the naive per-bit-aggregate formulation
    would (higher-order lambdas get no common-subexpression
    elimination). Verified in tests against a pandas brute-force oracle
    and gate-checked via planted exact duplicates (hamming 0)."""
    toks = F.array_distinct(F.split(text_col, " ", -1))
    th = F.transform(toks, lambda t: F.xxhash64(t))

    # bit-weight constants; shiftleft wraps bit 63 into the long sign
    # bit (a 2**63 literal would overflow signed long)
    weights = F.array(*[F.shiftleft(F.lit(1).cast("long"), i) for i in range(64)])

    votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            weights,
            lambda a, w: a + F.when(h.bitwiseAND(w) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            weights,
            lambda v, w: F.when(v > 0, w).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a.bitwiseOR(b),
    )


def exact_dedup(docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: min doc_id per identical text hash (hash-groupBy)."""
    return docs.groupBy(F.md5(text_col).alias("text_md5")).agg(
        F.min(doc_id).alias("keeper_doc_id"), F.count(F.lit(1)).alias("dup_count")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 25,
    small_graph_threshold: int = 65536,
) -> DataFrame:
    """Near-dup clusters: (doc_id, component_id=min doc in component).

    The canonical dedup finishing step — LSH/simhash emit PAIRS, but
    keeper selection needs transitive closure (a~b, b~c ⇒ one cluster).
    Min-label propagation with pointer jumping:

    - each round, every vertex takes the min of its label and its
      neighbors' labels (one equi join + groupBy — shuffles on vertex id);
    - then labels are path-compressed (label ← label's label, one more
      equi join), the pointer-doubling step that makes convergence
      O(log diameter) instead of O(diameter) — the standard
      large-star/small-star trick;
    - lineage is truncated each round (:func:`~osm2gtfs_spark.session.
      materialize`) so the plan doesn't grow with iterations;
      convergence is detected by a changed-count action (1 tiny job per
      round).

    Deterministic output (the min id per component is
    iteration-order-independent). At corpus scale each round is two
    shuffles on vertex id; skewed high-degree vertices (boilerplate
    dup clusters) are bounded upstream by lsh_candidate_pairs'
    max_bucket cap.

    When the SparkContext has a checkpoint dir (``spark.checkpoint.dir``,
    VERDICT r3 item 4), every round's cut is a RELIABLE checkpoint into
    it (HDFS/S3/DBFS path on a cluster): iteration state then survives
    executor loss, the right trade at cluster scale. Each round writes
    a copy there and Spark does not delete superseded ones by default:
    set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (or
    clean the directory after the job) for repeated backfills. Without
    one, the cuts are executor-local blocks — fast, but a lost executor
    kills the whole iteration chain.

    ``small_graph_threshold`` (optimization r6): when the COMPLETE pair
    list fits under this many rows (checked with a bounded
    ``limit(threshold+1)`` probe), the labels are computed by a driver
    union-find instead of the iterative loop — identical min-label
    fixpoint, bounded driver memory (≤ threshold edge rows ≈ a few MB),
    and none of the per-round fixed cost that dominates small graphs.
    ``0`` disables the probe (always iterate). The probe shares ONE
    lazy materialization of ``pairs`` with the loop, so a big graph
    pays the pair plan once, not twice. The probe is skipped
    automatically when the SparkContext has a checkpoint dir (the
    cluster-scale/reliability signal), when the id columns have
    different types or are neither integers nor strings, or when NULL
    ids appear in the probe window —
    those cases take the iterative path with its original semantics.
    Executes eagerly either way — the iterative path always did
    (per-round convergence actions)."""
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # review r6: the probe is skipped entirely when the context has a
    # checkpoint dir — the cluster-scale signal, where every cut is
    # reliable, the pair plan is expensive and the probe's upstream
    # shuffle stages would run twice (once for the probe, once for the
    # loop). Mixed id column types likewise fall through: the iterative
    # path's unionByName coerces to the common type, the driver path
    # would not. So do ids other than integers and strings: the
    # union-find needs ids equal to themselves, and a NaN double id is
    # not (its root walk would never end).
    id_type = pairs.schema[id_a].dataType
    use_probe = (
        small_graph_threshold > 0
        and pairs.sparkSession.sparkContext.getCheckpointDir() is None
        and id_type == pairs.schema[id_b].dataType
        and isinstance(id_type, (T.IntegralType, T.StringType))
    )
    if use_probe:
        # Runtime physical-plan choice in the AQE / global_index
        # small_threshold spirit (optimization r6, guide §1.2 "the
        # distributed algorithm"): every iterative round pays a fixed
        # cost — checkpoint materialization, a convergence action, job
        # scheduling, ~4 exchanges — that dwarfs the actual work on a
        # small graph (measured: 2.3 s for a 1,020-vertex/2,004-edge
        # raster grid, all of it round overhead). The probe collects AT
        # MOST threshold+1 edge rows via limit() — bounded by
        # construction, never data-proportional, the same guarded-
        # bounded-collect pattern as the QuickHull frontier. If the
        # complete edge list fits, a driver union-find labels it with
        # the identical min-label-per-component fixpoint (asserted
        # against the distributed path in tests); otherwise the limit
        # probe short-circuits after ~threshold rows and the iterative
        # path runs unchanged.
        # ONE materialization shared between the probe and (if the graph
        # turns out big) the iterative loop (review r6): the lazy cut's
        # blocks are filled by whatever partitions the limit probe scans
        # and completed by the loop's first action, so an expensive pair
        # plan (LSH self-join + distinct) never runs twice.
        pairs = materialize(pairs)
        probe = (
            pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
            .limit(small_graph_threshold + 1)
            .collect()
        )
        has_null = any(r["a"] is None or r["b"] is None for r in probe)
        if len(probe) <= small_graph_threshold and not has_null:
            parent: dict = {}

            def _find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in probe:
                a, b = r["a"], r["b"]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = _find(a), _find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict = {}
            for v in parent:
                root = _find(v)
                cur = comp_min.get(root)
                if cur is None or v < cur:
                    comp_min[root] = v
            out_schema = T.StructType(
                [
                    T.StructField("doc_id", id_type),
                    T.StructField("component_id", id_type),
                ]
            )
            return pairs.sparkSession.createDataFrame(
                [(v, comp_min[_find(v)]) for v in sorted(parent)], out_schema
            )
    return _cc_run(pairs, id_a, id_b, max_iters)


def _cc_run(pairs, id_a, id_b, max_iters):
    # per-round job budget (optimization r6, guide §1.2 "the distributed
    # algorithm"): the round's new labels carry the OLD label as a
    # column, so convergence detection is a filter-count over the
    # checkpointed blocks instead of an extra join job; the checkpoint
    # itself is LAZY, so one action per round (the changed-count)
    # materializes the round pipeline AND answers convergence — 1 job +
    # 0 convergence shuffles per round, down from 2 jobs + a 2-shuffle
    # join. Labels and convergence math are unchanged (same min-label
    # fixpoint, same round count).
    edges = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = materialize(
        edges.select(F.col("src").alias("id")).distinct().withColumn("label", F.col("id"))
    )
    for _ in range(max_iters):
        # min-label step as ONE union + groupBy instead of the join →
        # groupBy → join-back chain (optimization r6: one exchange less
        # per round; identical algebra). Every id has exactly one row
        # in ``labels``, so max(_old) recovers its previous label and
        # min(label) is min(own, neighbors') — the same ``stepped``.
        prop = edges.join(
            labels.select(F.col("id").alias("dst"), F.col("label").alias("nl")), "dst"
        ).select(
            F.col("src").alias("id"),
            F.col("nl").alias("label"),
            F.lit(None).cast(labels.schema["label"].dataType).alias("_old"),
        )
        own = labels.select("id", "label", F.col("label").alias("_old"))
        stepped = (
            own.unionByName(prop)
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.max("_old").alias("old"))
            .select("id", "old", "label")
        )
        # pointer jumping: label ← label's current label, applied TWICE
        # per round (optimization r6): the second application is one
        # more equi join inside the same job, but each extra jump
        # compounds the path compression, so the loop converges in
        # fewer rounds — and the fixed cost of a round (checkpoint
        # materialization + convergence action + scheduling) dominates
        # at every scale. Measured on the raster-regions grid graph:
        # 7 rounds → 4 with identical final labels (the fixpoint is
        # jump-count-independent).
        jumped = stepped
        for _ in range(2):
            jumped = (
                jumped.alias("x")
                .join(
                    jumped.select(
                        F.col("id").alias("label"), F.col("label").alias("ll")
                    ).alias("y"),
                    "label",
                    "left",
                )
                .select("id", "old", F.coalesce("ll", "label").alias("label"))
            )
        jumped = materialize(jumped)
        changed = jumped.filter(F.col("label") != F.col("old")).count()
        labels = jumped.select("id", "label")
        if changed == 0:
            break
    else:
        # exhausted max_iters with labels still moving: the labels are
        # NOT a fixed point (split components) — refuse to return them
        # silently (a pathological long-diameter graph should fail
        # loudly, not corrupt the keeper selection downstream)
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("component_id"))


def token_set_dup_pairs(docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash-banded candidates → exact token-set-equal pairs (a<b).

    The cheap fingerprint index (4 bands of 16 bits of the simhash)
    generates candidates — only band collisions shuffle, never all
    pairs — and the exact verifier (distinct-token-set equality) joins
    token arrays onto candidate ids only, so they never ride through
    the band shuffle."""
    sh = docs.select(F.col(doc_id), simhash64(F.col(text_col)).alias("simhash"))
    bands = sh.select(
        doc_id,
        F.posexplode(
            F.array(*[(F.shiftrightunsigned("simhash", i * 16) % F.lit(65536)).cast("long") for i in range(4)])
        ).alias(*BAND_KEYS),
    )
    cand = lsh_candidate_pairs(bands, doc_id, max_bucket=None)
    ts = docs.select(
        F.col(doc_id),
        F.array_sort(F.array_distinct(F.split(F.col(text_col), " ", -1))).alias("ts"),
    )
    return (
        cand.join(ts.select(F.col(doc_id).alias("doc_a"), F.col("ts").alias("ts_a")), "doc_a")
        .join(ts.select(F.col(doc_id).alias("doc_b"), F.col("ts").alias("ts_b")), "doc_b")
        .filter(F.col("ts_a") == F.col("ts_b"))
        .select("doc_a", "doc_b")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_shingle_docs: int | None = 100,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, how many distinct word
    n-grams it shares with ANY benchmark doc (eval-set leakage signal).

    Returns (doc_id, n_overlap) for corpus docs with ≥1 shared shingle.

    Scale shape: explode both sides' distinct shingles, equi join on the
    shingle string, count distinct per corpus doc — never a doc×doc
    pair join. ``max_shingle_docs`` drops shingles present in more than
    that many BENCHMARK docs (stopword-gram guard, the same anti-join
    skew cap as the LSH hot-bucket rule): a ubiquitous n-gram would
    fan out to every corpus doc and flag the whole corpus. It counts
    DISTINCT benchmark ids, not rows, so it is not a :func:`hot_keys`
    cap.
    """
    c = corpus.select(F.col(doc_id), F.explode(shingles(F.col(text_col), n)).alias("sh"))
    b = benchmark.select(
        F.col(doc_id).alias("_bench_id"), F.explode(shingles(F.col(text_col), n)).alias("sh")
    )
    if max_shingle_docs is not None:
        hot = (
            b.groupBy("sh")
            .agg(F.count_distinct("_bench_id").alias("_nb"))
            .filter(F.col("_nb") > max_shingle_docs)
            .select("sh")
        )
        b = b.join(F.broadcast(hot), "sh", "left_anti")
    return (
        c.join(b.select("sh").distinct(), "sh")
        .groupBy(doc_id)
        .agg(F.count_distinct("sh").alias("n_overlap"))
    )


def apply_keepers(
    docs: DataFrame, components: DataFrame, doc_id: str = "doc_id"
) -> DataFrame:
    """Dedup finishing step: keep one doc per near-dup component.

    ``components`` is the (doc_id, component_id) output of
    :func:`connected_components`; the keeper is the component's min id
    (= component_id by construction), every other member is anti-joined
    away. Docs that appear in no component pass through untouched."""
    losers = components.filter(F.col(doc_id) != F.col("component_id")).select(doc_id)
    return docs.join(losers, doc_id, "left_anti")


# ---------------------------------------------------------------------------
# Exact-substring (duplicated-span) scrubbing — the token-level dedup
# that document-level near-dup misses (boilerplate paragraphs shared by
# otherwise-distinct documents, self-repeats inside one document).
# ---------------------------------------------------------------------------

def positioned_shingle_hashes(
    docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text", n: int = 8
) -> DataFrame:
    """(doc_id, pos, h): md5 of the n-token window starting at each
    0-based token position (docs shorter than n tokens emit nothing).

    md5 (not xxhash64) so the DuckDB oracle reproduces the hashes
    bit-identically; at pure production scale swap in xxhash64 — the
    plan shape is identical."""
    toks = F.split(F.col(text_col), " ", -1)
    starts = F.sequence(F.lit(0), F.size(toks) - n)
    return (
        docs.filter(F.size(toks) >= n)
        .select(
            F.col(doc_id),
            F.explode(starts).alias("pos"),
            toks.alias("_toks"),
        )
        .select(
            doc_id,
            "pos",
            F.md5(F.concat_ws(" ", F.slice("_toks", F.col("pos") + 1, n))).alias("h"),
        )
    )


def duplicated_span_scrub(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Remove every token covered by a duplicated n-token window
    (corpus-wide occurrences ≥ min_occurrences, INCLUDING self-repeats
    within one document) — the Spark-shaped analog of exact-substring
    training-data dedup at token-n-gram granularity.

    Returns one row per input doc:
    (doc_id, n_removed, n_spans, text_clean) where n_spans counts the
    maximal merged duplicated spans and text_clean is the surviving
    tokens joined by ' '.

    Scale shape: position-explode → md5 window hash (codegen) →
    groupBy(h) count (map-side combine: the shuffle carries one row per
    DISTINCT window, not per occurrence) → equi join back on h →
    covered-position fanout bounded by n → per-doc sorted aggregation.
    Two shuffles (window hash, doc id); no window function over the
    corpus — span merging happens inside a per-doc sorted array fold.

    Token masking is LINEAR per doc (VERDICT r4 item 2): the sorted
    covered-position array defines the kept runs directly, so the clean
    text is built by slicing the token array between consecutive
    covered positions and flattening — O(doc_len + covered) work and
    copies per doc, no membership scan. The earlier
    ``array_contains(cps, i)``-per-token mask was O(doc_len × covered):
    a fully-duplicated million-token boilerplate doc became a 10^12-op
    straggler task; the run-slice mask needs no extra shuffle either
    (the anti-join alternative would re-shuffle the whole token
    stream)."""
    sh = positioned_shingle_hashes(docs, doc_id, text_col, n)
    dup_h = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_occurrences)
        .select("h")
    )
    covered = (
        sh.join(dup_h, "h")
        .select(F.col(doc_id), F.explode(F.sequence(F.col("pos"), F.col("pos") + n - 1)).alias("tpos"))
        .distinct()
    )
    # per-doc sorted covered positions → removed count + merged-span
    # count (a new span wherever the position jumps by more than 1) —
    # computed by a fold over the sorted array, no corpus-wide window
    cov_agg = covered.groupBy(doc_id).agg(
        F.sort_array(F.collect_list("tpos")).alias("cps")
    )
    spans = F.aggregate(
        F.zip_with(
            "cps",
            F.concat(F.array(F.lit(-2)), F.expr("slice(cps, 1, size(cps) - 1)")),
            lambda cur, prev: F.when(cur - prev > 1, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    toks = F.split(F.col(text_col), " ", -1)
    # linear run-slice mask: for each covered position c with predecessor
    # p (−1 before the first), the tokens (p, c) exclusive are a kept run
    # — slice(toks, p+2, c−p−1) in 1-based slice coordinates; the tail
    # run after the last covered position closes the doc. cps is sorted
    # and distinct, so c ≥ p+1 and every slice length is ≥ 0; total
    # copied tokens = kept tokens ≤ doc_len.
    prev = F.concat(F.array(F.lit(-1)), F.expr("slice(cps, 1, size(cps) - 1)"))
    kept_runs = F.zip_with(
        "cps",
        prev,
        lambda c, p: F.slice(F.col("_toks"), p + 2, c - p - 1),
    )
    tail_start = F.element_at("cps", -1) + 2
    tail = F.slice(F.col("_toks"), tail_start, F.size("_toks") - tail_start + 1)
    masked = F.concat(F.flatten(kept_runs), tail)
    return (
        docs.select(F.col(doc_id), toks.alias("_toks"))
        .join(cov_agg, doc_id, "left")
        .select(
            doc_id,
            # NB: F.size(NULL) is -1 under ANSI-off (legacy sizeOfNull),
            # so the no-duplicates case needs an explicit isNull branch
            F.when(F.col("cps").isNull(), F.lit(0))
            .otherwise(F.size("cps"))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(spans, F.lit(0)).cast("long").alias("n_spans"),
            F.array_join(
                F.when(F.col("cps").isNull(), F.col("_toks")).otherwise(masked),
                " ",
            ).alias("text_clean"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    band_size: int = 2,
    jaccard_threshold_permille: int = 800,
    max_bucket: int | None = 1000,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Admit only NEW documents that are not near-dups of the EXISTING
    corpus — the daily-increment production pattern (the full-corpus
    re-clustering of :func:`connected_components` is for backfills;
    an append only needs new×corpus checks, never corpus×corpus).

    Shape: minhash bands on both sides, candidates = band-equi join of
    the NEW side against the CORPUS side only (plus NEW×NEW so a batch
    cannot admit two copies of the same text — first occurrence by min
    doc_id wins), exact n-gram Jaccard verify on candidates only, then
    anti-join the rejected ids. The corpus band table is the thing to
    precompute/persist incrementally at scale — pass it as
    ``corpus_bands`` (a persisted :func:`minhash_bands` table with the
    same (k, band_size)) and the corpus TEXT is only touched for the
    candidates' verify lookups, never re-banded; with
    ``corpus_bands=None`` the bands are derived from ``corpus`` per
    call (dev-mode). ``max_bucket`` caps boilerplate buckets on the
    corpus side."""
    nb = minhash_bands(doc_id, text_col, new_docs, k, band_size)
    cb = (
        corpus_bands
        if corpus_bands is not None
        else minhash_bands(doc_id, text_col, corpus, k, band_size)
    )
    # the md5 signature fold is the dominant cost and its band table is
    # referenced by THREE consumers below (hot-bucket agg / old-side
    # join / new×new self join) — higher-order folds get no common-
    # subexpression elimination across plan references, so without a
    # materialization boundary every consumer re-folds the text
    # (optimization r6, guide §5 "caching is worth it when a DataFrame
    # is reused and recomputing is more expensive": measured 9.5 s →
    # 3.2 s at the sf0.1 gate). The narrow band rows are per-call
    # state, recomputed from the inputs on every invocation.
    nb = materialize(nb)
    if corpus_bands is None:
        cb = materialize(cb)
    hot = hot_keys(cb, BAND_KEYS, max_bucket)
    cand_old = bucket_pairs(nb, cb, BAND_KEYS, (doc_id, "new_id"), (doc_id, "old_id"), hot=hot)
    cand_self = bucket_pairs(nb, nb, BAND_KEYS, (doc_id, "old_id"), (doc_id, "new_id"), "<", hot)
    new_sh = new_docs.select(
        F.col(doc_id).alias("new_id"), shingles(F.col(text_col)).alias("sh_n")
    )
    jac = F.floor(
        F.size(F.array_intersect("sh_n", "sh_o")) * 1000.0
        / F.size(F.array_union("sh_n", "sh_o"))
    )
    # the verify join is SIDE-QUALIFIED (review r4): a candidate's old_id
    # resolves against the side that produced it — a doc_id value shared
    # by the batch and the corpus must never join the wrong text.
    # Corpus text is semi-join-pruned to the candidate old_ids BEFORE
    # the shingle projection (review r5): projecting shingles below the
    # join would 3-gram-shingle EVERY corpus row per call; pruning
    # first shingles only candidate rows, and with a bucketed/sorted
    # corpus layout the id filter prunes the scan itself.
    old_ids = cand_old.select("old_id").distinct()
    corpus_pruned = (
        corpus.select(F.col(doc_id).alias("old_id"), F.col(text_col))
        .join(old_ids, "old_id", "left_semi")
        .select("old_id", shingles(F.col(text_col)).alias("sh_o"))
    )
    rej_old = (
        cand_old.join(new_sh, "new_id")
        .join(corpus_pruned, "old_id")
        .filter(jac >= jaccard_threshold_permille)
        .select("new_id")
    )
    rej_self = (
        cand_self.join(new_sh, "new_id")
        .join(
            new_docs.select(
                F.col(doc_id).alias("old_id"), shingles(F.col(text_col)).alias("sh_o")
            ),
            "old_id",
        )
        .filter(jac >= jaccard_threshold_permille)
        .select("new_id")
    )
    rejected = rej_old.unionByName(rej_self).distinct()
    return new_docs.join(
        rejected.withColumnRenamed("new_id", doc_id), doc_id, "left_anti"
    )
