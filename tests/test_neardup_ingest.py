"""Streaming near-duplicate ingest (streaming/ingest.py): the
foreachBatch composition of incremental_dedup over accumulating
admitted+band state.

The DuckDB gate (`neardup_ingest_stream`) value-checks the drained
admitted set against a three-batch chained oracle; these pin the
mechanics the oracle can't express: cross-batch state (a dup of a
batch-1 admit is rejected in batch 2), equivalence with the
sequential batch replay, and restart/idempotency."""

from __future__ import annotations

import pandas as pd
import pytest

from osm2gtfs_spark.operators import dedup as DD
from osm2gtfs_spark.streaming import ingest as ING


def _doc(i: int) -> str:
    return " ".join(f"w{i}t{j} x{i}y{j} q{i}z{j}" for j in range(4))


def _write(spark, path: str, rows: list[tuple[int, str]]) -> None:
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_neardup_ingest_matches_sequential_replay(spark, tmp_path):
    base_rows = [(i, _doc(i)) for i in range(30)]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    src = str(tmp_path / "src")
    ING.seed_state(base, state)

    batches = [
        # novel 100-104 + exact copy of base doc 3 -> 5 admitted
        [(100 + i, _doc(100 + i)) for i in range(5)] + [(900, _doc(3))],
        # novel 200-202 + copy of batch-1 ADMIT 101 (cross-batch state!)
        # + copy of base 7 + in-batch twin pair (the earlier id wins)
        [(200 + i, _doc(200 + i)) for i in range(3)]
        + [(901, _doc(101)), (902, _doc(7)), (250, _doc(777)), (251, _doc(777))],
        # novel 300 + copy of batch-2 admit 250's TEXT (doc 777's words)
        [(300, _doc(300)), (903, _doc(777))],
    ]

    stream = lambda: (  # noqa: E731 - tiny local factory
        spark.readStream.schema("doc_id long, text string").parquet(src)
    )
    # sequential write->drain cycles: each availableNow run resumes from
    # the checkpoint and processes only the NEW file — deterministic
    # batch order AND a restart exercise in one
    for rows in batches:
        _write(spark, src, rows)
        ING.neardup_ingest_available_now(stream(), base, state, ck)

    got = {
        r.doc_id for r in ING.read_admitted(spark, state).select("doc_id").collect()
    }

    # driver-side sequential replay of the same batches
    corpus = base
    want: set[int] = set()
    for rows in batches:
        b = spark.createDataFrame(rows, "doc_id long, text string")
        adm = DD.incremental_dedup(b, corpus)
        ids = {r.doc_id for r in adm.select("doc_id").collect()}
        want |= ids
        corpus = corpus.unionByName(adm.select("doc_id", "text"))

    assert got == want
    # the planted duplicates were rejected, incl. the cross-batch one
    assert {900, 901, 902, 903, 251}.isdisjoint(got)
    assert {100, 101, 102, 103, 104, 200, 201, 202, 250, 300} <= got


def test_neardup_batch_replay_is_idempotent(spark, tmp_path):
    """Review r5: foreachBatch is at-least-once — a REPLAYED batch
    (same batch_id, state writes already committed) must reproduce the
    identical partitions, not re-check against its own prior output
    (which would reject its own admits and overwrite the partition
    with a subset). process_batch excludes the replaying batch's own
    partition from the state reads."""
    base = spark.createDataFrame([(0, _doc(0))], "doc_id long, text string")
    state = str(tmp_path / "state")
    ING.seed_state(base, state)
    b1 = spark.createDataFrame(
        [(10, _doc(10)), (11, _doc(11)), (12, _doc(0))], "doc_id long, text string"
    )
    ING.process_batch(b1, 0, base, state)
    first = ING.read_admitted(spark, state, base).orderBy("doc_id").collect()
    assert [r.doc_id for r in first] == [10, 11]
    # crash-after-commit simulation: the exact same batch replays
    ING.process_batch(b1, 0, base, state)
    again = ING.read_admitted(spark, state, base).orderBy("doc_id").collect()
    assert again == first, "replay must rewrite identical state, not a subset"
    # and a genuine NEXT batch still sees batch 0's admits
    b2 = spark.createDataFrame([(20, _doc(10))], "doc_id long, text string")
    ING.process_batch(b2, 1, base, state)
    final = {r.doc_id for r in ING.read_admitted(spark, state, base).collect()}
    assert final == {10, 11}, "dup of a batch-0 admit must be rejected in batch 1"


def test_neardup_ingest_empty_first_batch_state_readable(spark, tmp_path):
    """Review r5: a first batch that admits NOTHING creates the state
    dir with only _SUCCESS; subsequent batches must read it as empty
    (explicit schema), not crash parquet inference."""
    base = spark.createDataFrame([(0, _doc(0))], "doc_id long, text string")
    state = str(tmp_path / "state")
    ING.seed_state(base, state)
    all_dups = spark.createDataFrame([(10, _doc(0))], "doc_id long, text string")
    ING.process_batch(all_dups, 0, base, state)  # admits nothing
    novel = spark.createDataFrame([(20, _doc(20))], "doc_id long, text string")
    ING.process_batch(novel, 1, base, state)  # must not raise
    got = {r.doc_id for r in ING.read_admitted(spark, state, base).collect()}
    assert got == {20}


def test_neardup_replay_is_idempotent_under_static_session_mode(spark, tmp_path):
    # both state writes set their own overwrite mode: under the session
    # default 'static' a bare overwrite would truncate every other
    # batch's admits and bands, the seeded base-corpus bands included
    base = spark.createDataFrame([(0, _doc(0))], "doc_id long, text string")
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(10, _doc(10)), (11, _doc(0))], "doc_id long, text string")
    b1 = spark.createDataFrame([(20, _doc(20))], "doc_id long, text string")
    # FORCE static for the duration (other suite tests may leave the
    # shared session at dynamic): the per-writer option must win
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        ING.seed_state(base, state)

        def snapshot():
            admitted = {r.doc_id for r in ING.read_admitted(spark, state, base).collect()}
            bands = spark.read.parquet(f"{state}/bands").select("_batch_id").distinct()
            return admitted, {r._batch_id for r in bands.collect()}

        ING.process_batch(b0, 0, base, state)
        ING.process_batch(b1, 1, base, state)
        once = snapshot()
        ING.process_batch(b0, 0, base, state)  # failure replay of batch 0
        assert snapshot() == once == ({10, 20}, {-1, 0, 1})
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_neardup_reseed_keeps_admitted_batches_bands(spark, tmp_path):
    # re-seeding replaces only the base-corpus partition: the bands of
    # admitted docs stay, so a near-dup of one is still rejected
    base = spark.createDataFrame([(0, _doc(0))], "doc_id long, text string")
    state = str(tmp_path / "state")
    admit = spark.createDataFrame([(10, _doc(10))], "doc_id long, text string")
    near_dup = spark.createDataFrame([(11, _doc(10))], "doc_id long, text string")
    ING.seed_state(base, state)
    ING.process_batch(admit, 0, base, state)
    ING.seed_state(base, state)
    bands = spark.read.parquet(f"{state}/bands").select("_batch_id").distinct()
    assert {r._batch_id for r in bands.collect()} == {-1, 0}
    ING.process_batch(near_dup, 1, base, state)
    assert {r.doc_id for r in ING.read_admitted(spark, state, base).collect()} == {10}


def test_neardup_process_batch_without_seed_raises(spark, tmp_path):
    base = spark.createDataFrame([(0, _doc(0))], "doc_id long, text string")
    batch = spark.createDataFrame([(10, _doc(10))], "doc_id long, text string")
    with pytest.raises(ValueError, match="seed_state"):
        ING.process_batch(batch, 0, base, str(tmp_path / "state"))


def test_neardup_ingest_restart_is_idempotent(spark, tmp_path):
    base = spark.createDataFrame([(0, _doc(0))], "doc_id long, text string")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    src = str(tmp_path / "src")
    ING.seed_state(base, state)
    _write(spark, src, [(10, _doc(10)), (11, _doc(0))])
    ING.neardup_ingest_available_now(
        spark.readStream.schema("doc_id long, text string").parquet(src), base, state, ck
    )
    first = ING.read_admitted(spark, state).orderBy("doc_id").toPandas()
    # re-drain with the SAME checkpoint: no new files -> state unchanged
    ING.neardup_ingest_available_now(
        spark.readStream.schema("doc_id long, text string").parquet(src), base, state, ck
    )
    again = ING.read_admitted(spark, state).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(first, again)
    assert list(first.doc_id) == [10]
