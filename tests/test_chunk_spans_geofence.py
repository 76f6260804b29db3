"""Round-5c: span-atomic chunking + streaming geofence occupancy.

The gate (interleaved_chunk_spans / geofence_stream) pins cross-engine
value parity; these pin the semantics — media atomicity, the
span-lands-where-it-starts rule, and streaming-equals-batch for the
geofence counts on a hand-built stream.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.operators.spans import chunk_spans
from osm2gtfs_spark.sources import tpch
from osm2gtfs_spark.streaming import events as SE


def _doc(spark, spans):
    rows = [
        (
            1,
            [
                (kind, text, ref, 0)
                for kind, text, ref in spans
            ],
        )
    ]
    return spark.createDataFrame(
        rows,
        "doc_id long, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def test_chunk_span_lands_where_it_starts(spark):
    # costs: text "a b c"=3 toks, image=4, text "d e"=2; budget 4
    # offsets 0, 3, 7 -> chunks 0, 0, 1; chunk_off 0, 3, 3
    docs = _doc(
        spark,
        [("text", "a b c", ""), ("image", "", "m://x"), ("text", "d e", "")],
    )
    out = {r.pos: r for r in chunk_spans(docs, budget=4, media_tokens=4).collect()}
    assert (out[0].chunk_idx, out[0].chunk_off, out[0].cost) == (0, 0, 3)
    assert (out[1].chunk_idx, out[1].chunk_off, out[1].cost) == (0, 3, 4)
    assert (out[2].chunk_idx, out[2].chunk_off, out[2].cost) == (1, 3, 2)


def test_chunk_media_atomic_and_exactly_once(spark):
    docs = _doc(
        spark,
        [("text", " ".join(["t"] * 9), "")]
        + [("image", "", f"m://{i}") for i in range(5)],
    )
    out = chunk_spans(docs, budget=4, media_tokens=4)
    # every span appears exactly once (never split across chunks)
    assert out.count() == 6
    assert out.select("pos").distinct().count() == 6
    # chunk ids are non-decreasing with pos and chunk_off < budget
    rows = sorted(out.collect(), key=lambda r: r.pos)
    assert all(a.chunk_idx <= b.chunk_idx for a, b in zip(rows, rows[1:]))
    assert all(0 <= r.chunk_off < 4 for r in rows)


def test_chunk_budget_validation(spark):
    with pytest.raises(ValueError):
        chunk_spans(_doc(spark, [("text", "x", "")]), budget=0)


def test_geofence_stream_equals_batch(spark, sf_dir, tmp_path):
    pts = SE.stream_events(spark, sf_dir).select(
        "ts",
        *tpch.event_lat_lon(),
    )
    # sf0.001 events have few distinct users -> lats cluster near the
    # south pole; park the fences there
    fences = spark.createDataFrame(
        [(1, -82.0, 0.0), (2, -80.0, 100.0)],
        "polygon_id long, lat0 double, lon0 double",
    ).select(
        "polygon_id",
        F.array(
            F.struct((F.col("lat0") - 7).alias("lat"), F.col("lon0").alias("lon")),
            F.struct(F.col("lat0").alias("lat"), (F.col("lon0") + 60).alias("lon")),
            F.struct((F.col("lat0") + 7).alias("lat"), F.col("lon0").alias("lon")),
            F.struct(F.col("lat0").alias("lat"), (F.col("lon0") - 60).alias("lon")),
        ).alias("vertices"),
    )
    out = SE.geofence_stream(pts, fences, res=3)
    SE.run_available_now(out, "t_geofence", str(tmp_path / "ck"))
    got = {
        (r.window_start, r.polygon_id): r.n_events
        for r in spark.sql("SELECT * FROM t_geofence").collect()
    }
    from osm2gtfs_spark.operators.spatial import polygon_table_join

    batch_pts = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts",
        *tpch.event_lat_lon(),
    )
    batch = (
        polygon_table_join(batch_pts, fences, res=3)
        .groupBy(F.window("ts", "1 hour").alias("w"), "polygon_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("ws"), "polygon_id", "n_events")
    )
    want = {(r.ws, r.polygon_id): r.n_events for r in batch.collect()}
    assert got == want and len(got) > 0
