"""Structured Streaming: the sessionizer, streaming ingests and bounded drains."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery

from osm2gtfs_spark.sources import tpch
from osm2gtfs_spark.streaming import events as SE
from osm2gtfs_spark.streaming import ingest as ING


def test_sessionize_stateful(spark, sf_dir, tmp_path):
    stream = SE.stream_events(spark, sf_dir)
    sess = SE.sessionize(stream)
    SE.run_available_now(sess, "sessions", str(tmp_path / "ck2"))
    rows = spark.sql("SELECT * FROM sessions").collect()
    # gap-closed sessions emit in-batch; final sessions emit via
    # EventTimeTimeout once the watermark passes their gap horizon
    assert rows, "expected sessions"
    for r in rows:
        assert r.session_end >= r.session_start
        assert r.n_events >= 1
    # verify one user's sessions against a pandas recompute: >30min gaps
    # close sessions; the final session additionally emits iff the
    # stream's final watermark (max ts - 2h) passed its gap horizon
    import pandas as pd

    pdf = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("user_id") == rows[0].user_id)
        .orderBy("ts")
        .toPandas()
    )
    gaps = pdf.ts.diff().dt.total_seconds().fillna(0)
    n_breaks = int((gaps > 1800).sum())
    wm_ms = (
        int(pd.Timestamp(spark.read.parquet(f"{sf_dir}/events.parquet")
                         .agg(F.max("ts")).first()[0]).value // 10**6)
        - 2 * 3600 * 1000
    )
    last_ms = int(pdf.ts.iloc[-1].value // 10**6)
    want = n_breaks + (1 if last_ms + 1800 * 1000 < wm_ms else 0)
    got_user = [r for r in rows if r.user_id == rows[0].user_id]
    assert len(got_user) == want, "gap-closed sessions + expired final"


def test_sessionize_idle_user_times_out(spark, tmp_path):
    """VERDICT r4 item 3: an idle user's open session must be emitted
    once the watermark passes its gap horizon, and the state row must
    be gone — a user who stops sending events no longer leaks state.

    Three single-file micro-batches (maxFilesPerTrigger=1): user 1 has
    two events then goes idle; user 2's later events advance the
    watermark past user 1's horizon, so the timeout fires during a DATA
    batch (not relying on a trailing no-data batch). User 1's next
    event after the timeout must start a FRESH session (state was
    removed, not resumed)."""
    import datetime as dt

    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, uid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "t", 0.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "src")
    # file 1: user 1's session (2 events, 10 min apart)
    spark.createDataFrame([ev(1, 1, 0), ev(2, 1, 10)], schema).coalesce(1).write.parquet(src)
    # file 2: user 2 far in the future -> watermark jumps to ~+5h-2h=+3h,
    # past user 1's horizon (+40min): timeout fires in batch 3
    spark.createDataFrame([ev(3, 2, 300)], schema).coalesce(1).write.mode("append").parquet(src)
    # file 3: user 2 again (a data batch where the timeout processes) and
    # user 1 returns at +6h — must open a FRESH session
    spark.createDataFrame([ev(4, 2, 310), ev(5, 1, 360)], schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SE.EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    out = SE.sessionize(stream)
    SE.run_available_now(out, "idle_sessions", str(tmp_path / "ck_idle"))
    rows = spark.sql("SELECT * FROM idle_sessions ORDER BY user_id, session_start").collect()
    u1 = [r for r in rows if r.user_id == 1]
    # exactly ONE emission of the idle session (start t0, end t0+10min,
    # 2 events): emitted by timeout, never re-emitted, state cleared
    assert [
        (int(pd.Timestamp(r.session_start).value // 10**6),
         int(pd.Timestamp(r.session_end).value // 10**6), r.n_events)
        for r in u1
    ] == [
        (int(pd.Timestamp(t0).value // 10**6),
         int(pd.Timestamp(t0 + dt.timedelta(minutes=10)).value // 10**6), 2)
    ], rows
    # user 1's return event sits in a fresh OPEN session (within the
    # final watermark horizon) -> not emitted; had state leaked, the old
    # session would have resumed and nothing would have been emitted
    assert all(r.n_events != 3 for r in u1)


def test_sessionize_out_of_order_across_batches(spark, tmp_path):
    """Review r5: a late-but-admitted event arriving in a LATER batch
    with an EARLIER timestamp must merge into the open session without
    moving its end backward or splitting it. Timeline 10:00, 10:20,
    [batch 2:] 10:05 (late), 10:45 — every gap <= 30 min, so batch
    semantics give ONE session 10:00-10:45 x4; the old tail-append fold
    emitted a bogus split."""
    import datetime as dt

    import pandas as pd

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ev(eid, uid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "t", 0.0, "{}")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = str(tmp_path / "src")
    spark.createDataFrame([ev(1, 1, 0), ev(2, 1, 20)], schema).coalesce(1).write.parquet(src)
    # late 10:05 (admitted: watermark is 10:20-2h) together with 10:45
    spark.createDataFrame([ev(3, 1, 5), ev(4, 1, 45)], schema).coalesce(1).write.mode("append").parquet(src)
    # advance the watermark far past 10:45+gap so the final session emits
    spark.createDataFrame([ev(5, 2, 300)], schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SE.EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    SE.run_available_now(SE.sessionize(stream), "ooo_sessions", str(tmp_path / "ck_ooo"))
    u1 = [
        (int(pd.Timestamp(r.session_start).value // 10**6),
         int(pd.Timestamp(r.session_end).value // 10**6), r.n_events)
        for r in spark.sql("SELECT * FROM ooo_sessions WHERE user_id = 1").collect()
    ]
    want = [
        (int(pd.Timestamp(t0).value // 10**6),
         int(pd.Timestamp(t0 + dt.timedelta(minutes=45)).value // 10**6), 4)
    ]
    assert u1 == want, u1


def test_tile_coverage_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming tile coverage (watermarked window × cell) equals the
    batch groupBy on the bounded source."""
    from osm2gtfs_spark.functions.geo import cell_id

    def to_points(df):
        # deterministic synthetic coords from event fields (events carry
        # no geo columns; the operator only needs (ts, lat, lon))
        return df.select(
            "ts",
            *tpch.event_lat_lon(),
        )

    stream = to_points(SE.stream_events(spark, sf_dir))
    out = SE.tile_coverage_stream(stream, res=5, window="1 hour", watermark="2 hours")
    SE.run_available_now(out, "tiles_stream", str(tmp_path / "ckpt_tiles"))
    got = {
        (r.window_start, r.cell_id): r.n_points
        for r in spark.sql("SELECT * FROM tiles_stream").collect()
    }
    batch = to_points(spark.read.parquet(f"{sf_dir}/events.parquet"))
    want = {
        (r.w, r.cell_id): r.n_points
        for r in batch.groupBy(
            F.window("ts", "1 hour").start.alias("w"),
            cell_id("lat", "lon", 5).alias("cell_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .collect()
    }
    assert got == want and len(got) > 10


def test_dedup_stream_drops_replays(spark, sf_dir, tmp_path):
    """Streaming exact dedup: a replayed batch of the same events must
    pass through exactly once (bounded drain equals batch distinct)."""
    src = str(tmp_path / "dup_src")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(200)
    # two overlapping files: the second replays half of the first
    ev.write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SE.EVENTS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    deduped = SE.dedup_stream(stream)
    SE.run_available_now(deduped, "dedup_sink", str(tmp_path / "ck_dd"))
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_sink").collect()[0]
    want = ev.select("event_id").distinct().count()
    assert got.d == want, "every original event id exactly once"
    assert got.n == got.d, "no duplicate rows in the deduped stream"


def test_sessionize_batch_matches_streaming_closed_sessions(spark, sf_dir, tmp_path):
    """The batch sessionizer and the stateful streaming sessionizer are
    the SAME semantics at the same (millisecond) precision: on a fully
    drained bounded source the streaming result equals the batch result
    minus only those final sessions still inside the last watermark's
    gap horizon (everything else — gap-closed sessions in-batch, expired
    finals via EventTimeTimeout — must be emitted)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from osm2gtfs_spark.streaming.events import (
        SESSION_GAP_MS,
        sessionize,
        sessionize_batch,
        stream_events,
    )

    out = sessionize(stream_events(spark, sf_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_equiv")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.user_id, int(pd.Timestamp(r.session_start).value // 10**6),
         int(pd.Timestamp(r.session_end).value // 10**6), r.n_events)
        for r in spark.sql("SELECT * FROM sessions_equiv").collect()
    }

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    wm_ms = int(pd.Timestamp(ev.agg(F.max("ts")).first()[0]).value // 10**6) - 2 * 3600 * 1000
    batch = sessionize_batch(ev)
    rows = batch.select(
        "user_id",
        F.unix_millis(F.col("session_start").cast("timestamp")).alias("s"),
        F.unix_millis(F.col("session_end").cast("timestamp")).alias("e"),
        "n_events",
    ).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.user_id, r.s, r.e, r.n_events))
    want = set()
    n_expired_finals = 0
    for sess in by_user.values():
        sess.sort(key=lambda t: t[1])
        want.update(sess[:-1])  # gap-closed in-batch
        last = sess[-1]
        if last[2] + SESSION_GAP_MS < wm_ms:  # final emitted via timeout
            want.add(last)
            n_expired_finals += 1
    assert streamed == want and len(want) > 0
    assert n_expired_finals > 0, "fixture must exercise the timeout path"


def test_hot_cells_stream_equals_batch_having(spark, sf_dir):
    import tempfile

    from pyspark.sql import functions as F

    from osm2gtfs_spark.functions.geo import cell_id
    from osm2gtfs_spark.streaming import events as SE

    pts_stream = SE.stream_events(spark, sf_dir).select(
        "ts",
        *tpch.event_lat_lon(),
    )
    out = SE.hot_cells_stream(pts_stream, res=3, min_points=3, window="12 hours")
    with tempfile.TemporaryDirectory() as td:
        SE.run_available_now(out, "t_hot_cells", td)
    got = {
        (r.window_start, r.cell_id): r.n_points
        for r in spark.table("t_hot_cells").collect()
    }
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "ts",
            *tpch.event_lat_lon(),
        )
        .groupBy(F.window("ts", "12 hours").alias("w"), cell_id("lat", "lon", 3).alias("c"))
        .count()
        .filter(F.col("count") >= 3)
    )
    want = {(r.w.start, r.c): r["count"] for r in batch.collect()}
    assert got == want and len(got) > 0


def test_timed_out_drains_raise_and_stop(spark, tmp_path, monkeypatch):
    # a drain that times out must not return as if complete: the query
    # is stopped and the caller gets a TimeoutError
    schema = "doc_id long, text string"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a b c d e f")], schema).write.parquet(src)
    base = spark.createDataFrame([(0, "u v w x y z")], schema)
    ING.seed_state(base, str(tmp_path / "state"))
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)

    with pytest.raises(TimeoutError):
        SE.run_available_now(
            spark.readStream.schema(schema).parquet(src), "dedup_timeout", str(tmp_path / "ck1")
        )
    assert not spark.streams.active
    with pytest.raises(TimeoutError):
        ING.neardup_ingest_available_now(
            spark.readStream.schema(schema).parquet(src), base,
            str(tmp_path / "state"), str(tmp_path / "ck2"),
        )
    assert not spark.streams.active
