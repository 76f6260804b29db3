"""Fast (xxhash64-mix) minhash vs MD5 minhash: near-dup agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.operators import dedup as DD
from osm2gtfs_spark.plans import queries as Q

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the old oak tree"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup
        (3, BASE.replace("lazy", "sleepy")),  # near dup (1 token)
        (4, BASE.replace("quick", "slow").replace("dog", "wolf")),  # near dup (2)
        (5, "completely different content with nothing shared at all here today"),
        (6, "another unrelated document about spark dataframes and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(bands_df):
    return {
        (r.doc_a, r.doc_b)
        for r in DD.lsh_candidate_pairs(bands_df).collect()
    }


def test_both_families_catch_true_dups(docs):
    md5_pairs = _pairs(DD.minhash_bands("doc_id", "text", docs, 8, 2))
    fast_pairs = _pairs(DD.minhash_bands_fast("doc_id", "text", docs, 8, 2))
    for pairs in (md5_pairs, fast_pairs):
        assert (1, 2) in pairs, "exact dup must collide in some band"
        assert (1, 3) in pairs or (2, 3) in pairs, "1-token near dup must collide"
        # unrelated docs never pair with the BASE family
        assert not any(5 in p or 6 in p for p in pairs)


def test_fast_signature_shape(docs):
    sig = docs.select(DD.minhash_signature_fast(DD.shingles(F.col("text")), 8).alias("s")).first().s
    assert len(sig) == 8 and len(set(sig)) > 1


def test_lsh_queries_leave_no_cache(spark, sf_dir):
    """No registry query leaves a cache-manager entry behind: each one
    materializes through lineage cuts, never a cache or persist. Every
    ``queries()`` entry is built and collected after ``clearCache()``."""
    leaked = []
    for name, query in Q.queries().items():
        spark.catalog.clearCache()
        query(spark, sf_dir).collect()
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            leaked.append(name)
    assert leaked == []


def test_lsh_candidate_pairs_reliable_checkpoint(docs, reliable_checkpoints):
    """With a checkpoint dir on the SparkContext, the band table is a
    reliable checkpoint: the same pairs, and checkpoint files on disk."""
    import os

    bands = DD.minhash_bands("doc_id", "text", docs, 8, 2)
    local = _pairs(bands)
    with reliable_checkpoints() as ckdir:
        assert _pairs(bands) == local
    assert (1, 2) in local
    found = [f for _, _, fs in os.walk(ckdir) for f in fs]
    assert found, "no reliable checkpoint files written"
