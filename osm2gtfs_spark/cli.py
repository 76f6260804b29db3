"""Config-driven CLI: the reference's front door, Spark-first.

Mirrors ``osm2gtfs -c config.json`` (reference osm2gtfs/osm2gtfs.py:30-99):
the same flags (``--config/-c``, ``--output/-o``, and the mutually
exclusive ``--refresh-routes/--refresh-stops/--refresh-osm/
--refresh-schedule-source/--refresh-all`` group) and the same config
schema (selector, query, agency, feed_info, stops.name_without,
output_file), with two Spark-native substitutions:

- **inputs** replace the Overpass/network source: the config's
  ``inputs`` section points at fixture XML (``stops_xml``/``routes_xml``),
  a timetable JSON (``timetable``), a Fenix-style schedule
  (``fenix_json``), or an interleaved docs parquet table
  (``docs_parquet``). No network is ever touched.
- **refresh flags** map onto ``CheckpointCatalog.invalidate`` of the
  corresponding stage groups (the reference's pickle-cache refresh,
  core/cache.py) when the config carries a ``cache_dir``. Every
  pipeline, docs-parquet or XML city selector, runs on a declared stage
  graph (``plans/pipeline.py``) and checkpoints its stages there. Each
  group is derived from all the graphs: the refetched source's stages
  (or root frame, e.g. ``stops_docs``) plus every stage built from it.

Operational note for long backfills: every lineage cut in the engine
(operators, registry queries and the in-memory pipeline stages) goes
through ``session.materialize``, which writes reliable checkpoints,
surviving executor loss, when the SparkContext has a checkpoint dir:
launch with ``--conf spark.checkpoint.dir=<hdfs/s3 path>`` on clusters
with dynamic allocation or spot nodes. Without one, the cuts are
executor-local blocks. Spark keeps superseded reliable checkpoint
files (e.g. ``dedup.connected_components``' per-iteration copies)
unless ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` is
set (or the directory is cleaned after the job).

Selector resolution mirrors the creator factory
(core/creator_factory.py:40-133): a selector with a dedicated plan
module (gh_accra, ci_abidjan, br_florianopolis) dispatches to it;
anything else — including absent — falls back to the default creators
(the factory's ImportError → Default path), logged the same way.
"""

from __future__ import annotations

import argparse
import json
import logging
import os

from osm2gtfs_spark.plans import pipeline

log = logging.getLogger("osm2gtfs_spark.cli")

# --refresh-* → CheckpointCatalog.invalidate: each group is the stage
# that holds the refetched source plus every stage built from it, on
# every declared stage graph (docs parquet and the XML city selectors)
STOP_STAGES = pipeline.downstream({"nodes", "ways", "stops_docs"})
ROUTE_STAGES = pipeline.downstream({"relations", "routes_docs"})
SCHEDULE_STAGES = pipeline.downstream({"schedule", "timetable_docs", "fenix_docs"})

DEDICATED_SELECTORS = ("gh_accra", "ci_abidjan", "br_florianopolis")


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="osm2gtfs_spark", description="Create GTFS from OpenStreetMap data."
    )
    parser.add_argument("--config", "-c", metavar="FILE", required=True,
                        help="Configuration file")
    parser.add_argument("--output", "-o", metavar="FILENAME", type=str,
                        help="Specify GTFS output zip file")
    group = parser.add_mutually_exclusive_group()
    group.add_argument("--refresh-routes", action="store_true",
                       help="Refresh OSM data for all routes")
    group.add_argument("--refresh-stops", action="store_true",
                       help="Refresh OSM data for all stops")
    group.add_argument("--refresh-osm", action="store_true",
                       help="Refresh all OSM data")
    group.add_argument("--refresh-schedule-source", action="store_true",
                       help="Refresh data for time information")
    group.add_argument("--refresh-all", action="store_true",
                       help="Refresh all OSM and time information data")
    return parser


def load_config(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def resolve_selector(config: dict) -> str:
    """Factory precedence: dedicated plan if one exists, else default."""
    selector = config.get("selector")
    if selector in DEDICATED_SELECTORS:
        log.info("Creators: %s", selector)
        return selector
    log.info("Creators: Default (selector=%s)", selector)
    return "default"


def _refresh_stages(args) -> list[str]:
    if args.refresh_routes:
        return ROUTE_STAGES
    if args.refresh_stops:
        return STOP_STAGES
    if args.refresh_osm:
        return sorted(set(ROUTE_STAGES + STOP_STAGES))
    if args.refresh_schedule_source:
        return SCHEDULE_STAGES
    if args.refresh_all:
        return sorted(set(ROUTE_STAGES + STOP_STAGES + SCHEDULE_STAGES))
    return []


def _output_path(args, config: dict) -> str:
    # precedence mirrors Configuration._define_output_file
    if args.output:
        return args.output
    if "output_file" in config:
        return config["output_file"]
    raise SystemExit("no output file: pass -o or set output_file in the config")


def run(args, spark=None) -> str:
    """Execute the configured pipeline; returns the written zip path."""
    from osm2gtfs_spark.session import build_session
    from osm2gtfs_spark.sources import feed_members as FM
    from osm2gtfs_spark.sources.gtfs_sink import validate_feed, write_members_zip
    from osm2gtfs_spark.sources.osm_xml import timetable_docs_df, xml_docs_df

    config = load_config(args.config)
    selector = resolve_selector(config)
    out = _output_path(args, config)
    spark = spark or build_session("osm2gtfs")

    inputs = config.get("inputs", {})
    name_without = config.get("stops", {}).get("name_without", "stop")
    fi = config.get("feed_info", {})

    catalog = None
    if config.get("cache_dir"):
        from osm2gtfs_spark.sources.checkpoint import CheckpointCatalog

        catalog = CheckpointCatalog(spark, config["cache_dir"])
        refresh = _refresh_stages(args)
        if refresh and not any(catalog.manifest(stage) for stage in refresh):
            # visible no-op instead of a silent one: e.g. a cache_dir
            # built by the frequency pipeline has no schedule stage for
            # --refresh-schedule-source to clear
            log.warning("refresh: no cached stage of %s to invalidate", refresh)
        for stage in refresh:
            catalog.invalidate(stage)

    if "docs_parquet" in inputs:
        # interleaved docs table → the generic scalable pipelines + the
        # distributed sorted sink (corpus-scale path)
        from osm2gtfs_spark.sources.gtfs_sink import write_gtfs_zip

        docs = spark.read.parquet(inputs["docs_parquet"])
        if "timetable" in inputs or config.get("schedule_source"):
            if "timetable" in inputs:
                # a configured timetable file is DATA, not just a mode
                # switch: its schedule docs join the interleaved corpus
                docs = docs.unionByName(timetable_docs_df(spark, inputs["timetable"]))
            run_pipeline = pipeline.run_schedule_pipeline
        else:
            run_pipeline = pipeline.run_frequency_pipeline
        tables = run_pipeline(
            docs, name_without=name_without, catalog=catalog,
            feed_start=fi.get("start_date", "20240101"),
            feed_end=fi.get("end_date", "20250101"),
        )
        _log_validation(validate_feed(tables))
        return write_gtfs_zip(tables, out, agency=config.get("agency"))

    stops_docs = xml_docs_df(spark, [inputs["stops_xml"]])
    routes_docs = xml_docs_df(spark, [inputs["routes_xml"]])

    if selector == "gh_accra":
        from osm2gtfs_spark.plans.accra import build_accra_tables

        tables = build_accra_tables(stops_docs, routes_docs, catalog=catalog)
        members = FM.members_gh_accra(tables, config)
    elif selector == "ci_abidjan":
        from osm2gtfs_spark.plans.abidjan import build_abidjan_tables

        tables = build_abidjan_tables(
            stops_docs,
            routes_docs,
            default_agency=config.get("agency"),
            start_date=fi.get("start_date", "20200101"),
            end_date=fi.get("end_date", "20201231"),
            solar_times=config.get("solar_times"),
            catalog=catalog,
        )
        members = FM.members_ci_abidjan(tables, config)
    elif selector == "br_florianopolis":
        from osm2gtfs_spark.plans.florianopolis import build_florianopolis_tables
        from osm2gtfs_spark.sources.fenix import fenix_docs_df

        tables = build_florianopolis_tables(
            stops_docs,
            routes_docs,
            fenix_docs_df(spark, inputs["fenix_json"]),
            start_date=fi.get("start_date", "20180301"),
            end_date=fi.get("end_date", "20190228"),
            catalog=catalog,
        )
        members = FM.members_br_florianopolis(tables, config)
    else:
        from osm2gtfs_spark.plans.default_city import build_city_tables

        tables = build_city_tables(
            stops_docs,
            routes_docs,
            timetable_docs_df(spark, inputs["timetable"]),
            name_without=name_without,
            feed_start=fi.get("start_date", "20240101"),
            feed_end=fi.get("end_date", "20250101"),
            catalog=catalog,
        )
        members = FM.members_default(tables, config)

    _log_validation(validate_feed(tables))
    return write_members_zip(members, out)


def _log_validation(report) -> None:
    """feed.Validate equivalent: violations are logged, not fatal (the
    reference uses ProblemReporter, which warns and continues)."""
    for r in report.collect():
        if r.n_bad:
            log.warning("validation: %s -> %d violations", r.check, r.n_bad)


def main(argv: list[str] | None = None) -> None:
    logging.basicConfig(level=os.environ.get("LOGLEVEL", "INFO"))
    args = build_parser().parse_args(argv)
    path = run(args)
    log.info("GTFS feed written to %s", path)
