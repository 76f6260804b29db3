"""Time run_frequency_pipeline only (perf bisect helper)."""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from osm2gtfs_spark.plans.pipeline import run_frequency_pipeline
from osm2gtfs_spark.session import build_session
from osm2gtfs_spark.sources import docs as D

spark = build_session("bench-pipe")
spark.sparkContext.setLogLevel("ERROR")
docs = D.docs_df(spark, D.CitySpec(n_lines=1500, variants_per_line=2, stops_per_variant=12), n_partitions=32).cache()
docs.count()
from concurrent.futures import ThreadPoolExecutor

t0 = time.time()
tables = run_frequency_pipeline(docs)
outs = [tables.stop_times, tables.stops, tables.routes, tables.trips,
        tables.shapes, tables.frequencies]
with ThreadPoolExecutor(max_workers=len(outs)) as ex:
    n = sum(ex.map(lambda t: t.count(), outs))
print(f"pipeline_sec={time.time()-t0:.2f} rows={n}")
spark.stop()
