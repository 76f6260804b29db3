"""Benchmark harness — one JSON line for the driver.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` plus the transit
pipeline on a scaled synthetic city, and prints::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "gtfs_rows_per_sec": ...}

Each query is timed to full materialization (count of the result), not
plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osm2gtfs_spark.plans import queries as Q
from osm2gtfs_spark.plans.pipeline import run_frequency_pipeline
from osm2gtfs_spark.session import build_session
from osm2gtfs_spark.sources import docs as D

HEADLINE = [
    "q1_pricing_summary",
    "cell_encode",
    "tile_coverage",
    "knn_snap",
    "point_in_polygon",
    "master_variant_full_outer",
    "dedup_exact",
    "quality_score",
]

# sized so the pipeline is work-dominated, not fixed-overhead-dominated:
# 150 lines → 584 rows/s, 1500 lines → 5,211 rows/s on the same machine
# (10× the data costs +11% wall time — Spark per-action overheads)
BENCH_CITY = D.CitySpec(n_lines=1500, variants_per_line=2, stops_per_variant=12)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = build_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = Q.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry[name]
        fn(spark, sf_dir).count()  # warm: parquet footer cache + JIT
        reps = []
        for _ in range(3):  # median-of-3: same reproducibility story as
            t0 = time.time()  # the pipeline metric (±30% box variance)
            fn(spark, sf_dir).count()
            reps.append(round(time.time() - t0, 3))
        timings[name] = sorted(reps)[1]

    # ANN recall@5 on record (VERDICT r4 item 6): for the similarity
    # family recall is the second correctness axis — both approximate
    # paths measured against the brute-force truth on the raw corpus
    # (tests assert >=0.5 LSH / >=0.6 IVF; typical ~0.8 here)
    from pyspark.sql import functions as F

    from osm2gtfs_spark.operators import similarity as SIM
    from osm2gtfs_spark.sources import tpch

    emb = tpch.load(spark, sf_dir, "embeddings").cache()
    emb.count()
    qv = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_bruteforce(qv, emb, k=5).collect()
    }
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_lsh(qv, emb, dim=64, k=5)
        .select("query_id", "neighbor_id").collect()
    }
    cents = SIM.ivf_centroids(emb, n_cells=8, iters=3)
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in SIM.cosine_topk_ivf(qv, emb, cents, k=5, nprobe=3)
        .select("query_id", "neighbor_id").collect()
    }
    recall = {
        "ann_lsh_recall_at5": round(len(lsh & brute) / len(brute), 3),
        "ann_ivf_recall_at5": round(len(ivf & brute) / len(brute), 3),
    }
    emb.unpersist()

    # transit pipeline throughput (the BASELINE.json metric numerator:
    # GTFS rows + tile assignments per second)
    from osm2gtfs_spark.operators.spatial import tile_coverage
    from osm2gtfs_spark.sources.docs import decode_nodes

    # median of 3 cold-cache runs (the box shows intermittent host-level
    # interference with ±30%+ outliers — single-shot numbers are not
    # reproducible; VERDICT r2 asked for a median-of-≥3 record). Each
    # run clears the cache and rebuilds the docs table; JIT warmup from
    # run 1 carries over, which applies equally to any re-run of this
    # script. All samples are reported alongside the median.
    from concurrent.futures import ThreadPoolExecutor

    samples = []
    for _ in range(5):  # 5, not 3: the box throws 2-3x outliers often
        spark.catalog.clearCache()
        docs = D.docs_df(spark, BENCH_CITY, n_partitions=32).cache()
        docs.count()
        t0 = time.time()
        # the pipeline stores every stage once (an eager local
        # checkpoint) and caches nothing, so the concurrent sink jobs
        # below read finished data, not the shared chain
        tables = run_frequency_pipeline(docs)
        # the six members + tile map materialize concurrently, as the
        # zip sink would write them — Spark schedules independent jobs
        # in parallel, so the driver latency of 7 sequential actions
        # isn't charged to the pipeline
        outs = [
            tables.stop_times,
            tables.stops,
            tables.routes,
            tables.trips,
            tables.shapes,
            tables.frequencies,
            tile_coverage(decode_nodes(docs), res=12),
        ]
        with ThreadPoolExecutor(max_workers=len(outs)) as ex:
            counts = list(ex.map(lambda t: t.count(), outs))
        samples.append(round(time.time() - t0, 3))
    gtfs_rows = sum(counts)
    pipeline_sec = sorted(samples)[len(samples) // 2]
    timings["gtfs_pipeline"] = pipeline_sec

    # deterministic sink: full zip write, AQE sizing the ordered writers
    # per member (bytes invariant to the writer count — asserted in tests)
    import tempfile

    from osm2gtfs_spark.sources.gtfs_sink import write_gtfs_zip

    with tempfile.TemporaryDirectory() as td:
        t0 = time.time()
        write_gtfs_zip(tables, os.path.join(td, "bench.zip"))
        zip_sec = round(time.time() - t0, 3)

    # total keeps the r1 definition (headline + pipeline); the sink and
    # the schedule-path pipeline are reported separately so rounds stay
    # comparable
    total = round(sum(timings.values()), 3)
    timings["gtfs_zip_sharded"] = zip_sec

    # round-5 geospatial operators: single warmed rep each (outside the
    # r1 total so rounds stay comparable) — puts the new surface's perf
    # on the per-round record
    for gname in (
        "morton_cell_encode",
        "polyline_cell_coverage",
        "cell_compact",
        "snap_to_polyline",
        "raster_region_extract",
        "segment_intersection_join",
        "corridor_match_routes",
        "idw_grid_interpolation",
        "pack_interleaved_chunks",
        # round-5 third session
        "gi_star_hotspots",
        "tile_pyramid",
        "tile_quadkeys",
        "grid_voronoi_alloc",
        "network_reach_cost",
        "polygon_fill_cells",
        "flow_pagerank",
        "tile_snapshot_diff",
        "chunk_text_overlap",
        "interleaved_chunk_spans",
    ):
        fn = registry[gname]
        fn(spark, sf_dir).count()  # warm
        t0 = time.time()
        fn(spark, sf_dir).count()
        timings[gname] = round(time.time() - t0, 3)

    # schedule-join path (J5 composite join + J7 alignment kernel + W6
    # distance interpolation) on the same city — first benched in r3;
    # row count is schedule-bound (~27k), so rows/sec is NOT comparable
    # to the frequency metric; the wall time is the record
    from osm2gtfs_spark.plans.pipeline import run_schedule_pipeline

    sched_samples = []
    for _ in range(3):
        spark.catalog.clearCache()
        docs = D.docs_df(spark, BENCH_CITY, n_partitions=32).cache()
        docs.count()
        t0 = time.time()
        st = run_schedule_pipeline(docs)
        souts = [st.stop_times, st.stops, st.routes, st.trips, st.shapes, st.calendar]
        with ThreadPoolExecutor(max_workers=len(souts)) as ex:
            sched_rows = sum(ex.map(lambda t: t.count(), souts))
        sched_samples.append(round(time.time() - t0, 3))
    timings["gtfs_schedule_pipeline"] = sorted(sched_samples)[1]

    # checkpointed pipeline (VERDICT r3 item 7): cold = every stage
    # computed AND materialized to the catalog (the checkpoint overhead
    # on record); resume = every stage complete, so the pipeline is pure
    # manifest-check + parquet read-back (the resume win on record)
    import shutil

    from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog

    ck_root = tempfile.mkdtemp(prefix="bench_ckpt_")
    try:
        cat = CheckpointCatalog(spark, ck_root)
        for key in ("gtfs_pipeline_checkpointed_cold", "gtfs_pipeline_checkpointed_resume"):
            spark.catalog.clearCache()
            docs = D.docs_df(spark, BENCH_CITY, n_partitions=32).cache()
            docs.count()
            t0 = time.time()
            tabs = run_frequency_pipeline(docs, catalog=cat)
            couts = [tabs.stop_times, tabs.stops, tabs.routes,
                     tabs.trips, tabs.shapes, tabs.frequencies]
            with ThreadPoolExecutor(max_workers=len(couts)) as ex:
                list(ex.map(lambda t: t.count(), couts))
            timings[key] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(ck_root, ignore_errors=True)

    # streaming gate evidence (VERDICT r3 item 8): the SAME watermarked
    # tile-coverage aggregation drained via Structured Streaming
    # AvailableNow vs the equivalent batch groupBy on the bounded input —
    # batch-equivalence of the results is asserted in tests; the wall
    # times here put the streaming overhead on the per-round record
    from osm2gtfs_spark.functions.geo import cell_id
    from osm2gtfs_spark.sources import tpch
    from osm2gtfs_spark.streaming import events as SE

    def to_points(df):
        return df.select("ts", *tpch.event_lat_lon())

    with tempfile.TemporaryDirectory() as td:
        t0 = time.time()
        out = SE.tile_coverage_stream(
            to_points(SE.stream_events(spark, sf_dir)),
            res=5, window="1 hour", watermark="2 hours",
        )
        SE.run_available_now(out, "bench_tiles_stream", os.path.join(td, "ck"))
        stream_rows = spark.sql("SELECT COUNT(*) c FROM bench_tiles_stream").first()["c"]
        timings["tile_coverage_stream_availablenow"] = round(time.time() - t0, 3)
    t0 = time.time()
    batch_rows = (
        to_points(spark.read.parquet(f"{sf_dir}/events.parquet"))
        .groupBy(
            F.window("ts", "1 hour").start.alias("w"),
            cell_id("lat", "lon", 5).alias("cell_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"))
        .count()
    )
    timings["tile_coverage_batch_equiv"] = round(time.time() - t0, 3)
    assert stream_rows == batch_rows, (stream_rows, batch_rows)

    # surface the latest N→4N scaling evidence (tools/scaling.py) so the
    # per-round BENCH json carries it alongside BASELINE.md
    scaling = {}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALING.json")) as f:
            sj = json.load(f)
        scaling = {
            pair: {
                "throughput_N": v["throughput_rows_per_sec_N"],
                "throughput_4N": v["throughput_rows_per_sec_4N"],
                "efficiency": v["scaling_efficiency"],
            }
            for pair, v in sj.get("pairs", {}).items()
        }
    except Exception:
        pass
    print(
        json.dumps(
            {
                "metric": "headline queries + GTFS pipeline wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                **recall,
                # min-of-5 alongside the median (VERDICT r4 item 8): the
                # box throws 2-3x host-interference outliers; the min is
                # the cleanest engine-attributable number, the median the
                # conservative record — report both so round-over-round
                # comparison stops riding outliers
                "gtfs_pipeline_min": min(samples),
                "gtfs_pipeline_samples": samples,
                "gtfs_schedule_samples": sched_samples,
                "gtfs_schedule_rows": sched_rows,
                "gtfs_rows": gtfs_rows,
                "gtfs_rows_per_sec": round(gtfs_rows / pipeline_sec, 1),
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                "scaling": scaling,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
