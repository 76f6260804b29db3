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
    # lsh_candidate_pairs materializes the band table once itself; the
    # query constructors add no cache of their own
    spark.catalog.clearCache()
    for query in (Q.minhash_lsh_pairs, Q.ngram_jaccard_dedup):
        query(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
