"""End-to-end pipelines: source docs → GTFS tables.

Each GTFS pipeline is declared once, as a table of :class:`Stage`
entries in the reference's fixed stage order
(``osm2gtfs/osm2gtfs.py:78-93``): stops → routes → trips → prune. The
docs-parquet frequency and schedule pipelines are declared here; the
four XML city selectors (``accra``, ``abidjan``, ``florianopolis``,
``default_city``) add their override stages to :func:`xml_stages`. One
walk (:func:`_run`) runs any table from its named root frames: every
stage is a future that waits on its deps' futures and is stored once,
so each builder reads finished stages, and ``validate_feed`` and the
zip sinks read leaf scans, as the reference's ``feed.Validate`` and
``WriteGoogleTransitFeed`` read one finished ``Schedule``
(``osm2gtfs.py:90-93``). Only the store differs:

- in memory (``catalog=None``): each stage is an eager
  :func:`~osm2gtfs_spark.session.materialize` cut, a reliable
  checkpoint when the SparkContext has a checkpoint dir
  (``spark.checkpoint.dir``) and executor-resident local blocks,
  lost with their executor, otherwise. Nothing is resumable;
- a catalog (the CLI's ``cache_dir``): each stage is a durable,
  resumable parquet stage with a manifest. Runs that must resume
  after a failure use this one.

The CLI's ``--refresh-*`` groups come from the same tables (:func:`downstream`).
"""

from __future__ import annotations

import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2gtfs_spark.operators.indexing import SMALL_INDEX_THRESHOLD, global_index
from osm2gtfs_spark.plans import gtfs
from osm2gtfs_spark.plans import schedule_path as SP
from osm2gtfs_spark.session import materialize
from osm2gtfs_spark.sources import docs as docs_mod

log = logging.getLogger("osm2gtfs_spark.pipeline")


@dataclass
class GtfsTables:
    stops: DataFrame
    routes: DataFrame
    trips: DataFrame
    stop_times: DataFrame
    shapes: DataFrame
    frequencies: DataFrame
    calendar: DataFrame
    stations: DataFrame
    calendar_dates: DataFrame | None = None


@dataclass(frozen=True)
class Stage:
    """One builder call: ``build(*deps)`` gives one frame per name.

    Every name is its own stored stage (in a catalog: own manifest,
    ``inputs`` = ``deps``), so a builder's arguments are always finished
    stages."""

    names: tuple[str, ...]
    deps: tuple[str, ...]
    build: Callable[..., DataFrame | tuple[DataFrame, ...]]

    def outputs(self, frames: list[DataFrame]) -> dict[str, DataFrame]:
        out = self.build(*frames)
        return dict(zip(self.names, out if len(self.names) > 1 else (out,)))


def _decode_stages(root: str, prefix: str = "") -> tuple[Stage, ...]:
    return (
        Stage((prefix + "nodes",), (root,), docs_mod.decode_nodes),
        Stage((prefix + "ways",), (root,), docs_mod.decode_ways),
        Stage((prefix + "relations",), (root,), docs_mod.decode_relations),
    )


def xml_stages(selector: str, name_without: str, shapes: bool = True) -> tuple[Stage, ...]:
    """Stages every XML city selector shares, from the ``stops_docs`` and
    ``routes_docs`` roots. Stages built from the routes XML carry a
    ``route_`` prefix; the stops stage, whose ``name_without`` is the
    selector's own, carries the selector's prefix, so selectors sharing
    a cache_dir never resume each other's data. ``shapes=False`` leaves
    out the raw shape stages for selectors that write none."""
    stop_nodes, stop_ways, _ = _decode_stages("stops_docs", "stop_")
    route_nodes, route_ways, route_relations = _decode_stages("routes_docs", "route_")
    stages = (
        stop_nodes, stop_ways, route_relations,
        Stage(
            (f"{selector}_stops",), ("stop_nodes", "stop_ways"),
            lambda nodes, ways: gtfs.build_stops(nodes, ways, name_without),
        ),
        Stage(("route_lines", "route_itineraries"), ("route_relations",), gtfs.build_lines),
        Stage(("route_itin_stops",), ("route_relations",), gtfs.itinerary_stops),
    )
    if shapes:
        stages += (
            route_nodes, route_ways,
            Stage(("route_shapes",), ("route_relations", "route_ways", "route_nodes"), gtfs.build_shapes),
        )
    return stages


def _osm_stages(name_without: str) -> tuple[Stage, ...]:
    """Stages shared by both docs-parquet pipelines: decode → stops,
    stations, lines, itinerary stops and shapes."""
    return _decode_stages("docs") + (
        Stage(
            ("stops",), ("nodes", "ways"),
            lambda nodes, ways: gtfs.build_stops(nodes, ways, name_without),
        ),
        # double-precision centroid aggregation merges shuffle partials in
        # task-completion order; the stage store pins one materialization
        # so every sink sees the same last ulp
        Stage(("stations", "parent_map"), ("relations", "stops"), gtfs.build_stations),
        Stage(("lines", "itineraries"), ("relations",), gtfs.build_lines),
        Stage(("itin_stops",), ("relations",), gtfs.itinerary_stops),
        Stage(("shapes",), ("relations", "ways", "nodes"), _shapes),
    )


def _frequency_stages(name_without: str = "stop") -> tuple[Stage, ...]:
    return _osm_stages(name_without) + (
        Stage(("trips",), ("lines", "itineraries"), gtfs.build_trips),
        Stage(("frequencies",), ("trips",), gtfs.build_frequencies),
        Stage(("stop_times",), ("trips", "itin_stops"), gtfs.build_stop_times),
        Stage(("stops_final",), ("stops", "stop_times", "parent_map"), _stops_final),
        Stage(("routes_final",), ("lines", "trips"), _routes_final),
    )


def _schedule_stages(name_without: str = "stop") -> tuple[Stage, ...]:
    """Stages whose schema differs from the frequency pipeline's
    same-role stage carry a ``sched_`` prefix, so toggling the schedule
    source against an existing cache_dir never resumes incompatible data."""
    return _osm_stages(name_without) + (
        Stage(("schedule",), ("docs",), docs_mod.decode_schedule),
        Stage(
            ("per_service",), ("itineraries", "schedule"),
            lambda itins, sched: SP.itinerary_service_schedule(SP.match_schedule(itins, sched)),
        ),
        Stage(
            ("sched_filled",),
            ("itin_stops", "stops", "parent_map", "stations", "per_service"),
            _schedule_filled,
        ),
        Stage(("sched_trips",), ("per_service",), _schedule_trips_full),
        Stage(("sched_stop_times",), ("sched_filled", "sched_trips"), _schedule_stop_times),
        Stage(("sched_live_trips",), ("sched_trips", "sched_stop_times"), _live_trips),
        Stage(("sched_stops_final",), ("stops", "sched_stop_times", "parent_map"), _stops_final),
        Stage(("sched_routes_final",), ("lines", "sched_live_trips"), _routes_final),
    )


def downstream(roots) -> list[str]:
    """Every stage, on any declared GTFS graph, that is in ``roots`` or
    is built from one of them; a root may also be a root frame such as
    ``stops_docs``."""
    from osm2gtfs_spark.plans import abidjan, accra, default_city, florianopolis

    stages = (
        _frequency_stages() + _schedule_stages() + accra.stages() + abidjan.stages()
        + florianopolis.stages() + default_city.stages()
    )
    out, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in out:
            out.add(name)
            todo += [n for st in stages if name in st.deps for n in st.names]
    return sorted(out & {n for st in stages for n in st.names})


class _LocalStore:
    """The ``catalog=None`` stage store: every stage is an eager
    :func:`~osm2gtfs_spark.session.materialize` cut; none is ever
    complete or has a manifest."""

    def is_complete(self, name: str) -> bool:
        return False

    def run_stage(self, name: str, fn, inputs=None) -> DataFrame:
        return materialize(fn(), eager=True)

    def manifest(self, name: str) -> None:
        return None


def _run(stages, roots: dict[str, DataFrame], catalog) -> dict[str, DataFrame]:
    """Run every stage through the store's ``run_stage`` (``catalog``,
    or :class:`_LocalStore` when it is None) as a future that waits on
    its deps' futures: wall time tracks the critical path, not the sum
    of stage costs. A dep is a stage name or a key of ``roots`` (the
    source frames). Leaving the pool joins every stage thread on every
    exit path, so no job outlives a failed build. Returns every stored
    stage by name."""
    store = _LocalStore() if catalog is None else catalog
    futures: dict = {}

    def frame(name: str) -> DataFrame:
        return roots[name] if name in roots else futures[name].result()[name]

    with ThreadPoolExecutor(max_workers=len(stages), thread_name_prefix="gtfs-stage") as pool:
        for st in stages:
            fut = pool.submit(lambda st=st: _store_stage(store, st, [frame(d) for d in st.deps]))
            futures.update(dict.fromkeys(st.names, fut))
        return {name: frame(name) for name in futures}


def _store_stage(store, st: Stage, frames: list[DataFrame]) -> dict[str, DataFrame]:
    """Store each of ``st``'s outputs and log one line per output: built
    or resumed, rows (where a catalog manifest has them; no count job
    is added), seconds and inputs."""
    built: dict[str, DataFrame] = {}

    def output(name: str) -> DataFrame:
        if not built:  # one build call serves every output name
            built.update(st.outputs(frames))
        return built[name]

    done = {}
    for name in st.names:
        t0 = time.perf_counter()
        resumed = store.is_complete(name)
        done[name] = store.run_stage(name, lambda name=name: output(name), list(st.deps))
        manifest = store.manifest(name)
        log.info(
            "stage %s %s: %s rows in %.2f s, inputs %s",
            name, "resumed" if resumed else "built", manifest["row_count"] if manifest else "?",
            time.perf_counter() - t0, list(st.deps),
        )
    return done


def run_frequency_pipeline(
    docs: DataFrame,
    name_without: str = "stop",
    feed_start: str = "20240101",
    feed_end: str = "20250101",
    catalog=None,
) -> GtfsTables:
    """docs → GTFS tables via the frequency (Accra) path; with a
    ``catalog``, every stage is checkpointed and resumable."""
    s = _frequency_outputs(_run(_frequency_stages(name_without), {"docs": docs}, catalog))
    # JVM literals, not createDataFrame: no Python worker on the default path
    days = ("monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday")
    calendar = docs.sparkSession.range(0, 1, 1, 1).select(
        F.lit("always").alias("service_id"),
        *[F.lit(1).alias(d) for d in days],
        F.lit(feed_start).alias("start_date"),
        F.lit(feed_end).alias("end_date"),
    )
    return GtfsTables(**s, calendar=calendar)


def _frequency_outputs(s: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return dict(
        stops=s["stops_final"],
        routes=s["routes_final"],
        trips=s["trips"].drop("itinerary_osm_id", "frequency_min", "travel_min"),
        stop_times=s["stop_times"],
        shapes=s["shapes"],
        frequencies=s["frequencies"],
        stations=s["stations"],
    )


def run_schedule_pipeline(
    docs: DataFrame,
    name_without: str = "stop",
    feed_start: str = "20240101",
    feed_end: str = "20250101",
    catalog=None,
) -> GtfsTables:
    """docs → GTFS tables via the schedule-join (Managua) path: the
    schedule join (J5), the cursor alignment (J7) and the distance
    interpolation (W6) live in :mod:`osm2gtfs_spark.plans.schedule_path`.
    With a ``catalog``, every stage is checkpointed and resumable."""
    s = _schedule_outputs(_run(_schedule_stages(name_without), {"docs": docs}, catalog), feed_start, feed_end)
    # typed JVM literals over no rows: no Python worker
    frequencies = docs.sparkSession.range(0, 0, 1, 1).select(
        F.lit(None).cast("string").alias("trip_id"),
        F.lit(None).cast("string").alias("start_time"),
        F.lit(None).cast("string").alias("end_time"),
        F.lit(None).cast("int").alias("headway_secs"),
        F.lit(None).cast("int").alias("exact_times"),
    )
    return GtfsTables(**s, frequencies=frequencies)


def _schedule_outputs(s: dict[str, DataFrame], feed_start: str, feed_end: str) -> dict[str, DataFrame]:
    calendar, calendar_dates = SP.build_calendar(
        s["per_service"].select("service"), feed_start, feed_end
    )
    return dict(
        stops=s["sched_stops_final"],
        routes=s["sched_routes_final"],
        trips=s["sched_live_trips"].drop("itinerary_osm_id", "service", "trip_seq"),
        stop_times=s["sched_stop_times"],
        shapes=s["shapes"],
        stations=s["stations"],
        calendar=calendar,
        calendar_dates=calendar_dates,
    )


# --- stage builders ------------------------------------------------------

def _shapes(relations, ways, nodes):
    return gtfs.build_shapes(relations, ways, nodes).withColumn(
        "shape_id",
        F.concat(F.lit("relation/"), F.col("itinerary_osm_id").cast("string")),
    )


def _stops_final(stops, stop_times, parent_map):
    return gtfs.prune_unused_stops(stops, stop_times).join(parent_map, "stop_key", "left")


def _routes_final(lines, trips):
    return gtfs.prune_unused_routes(lines, trips).select(
        "route_id",
        F.col("name").alias("route_long_name"),
        F.col("route_id").alias("route_short_name"),
        "route_type",
        F.col("colour").alias("route_color"),
    )


def _schedule_filled(itin_stops, stops, parent_map, stations, per_service):
    """Aligned stop times (J7) with the gaps distance-interpolated (W6).
    The J7 fallback matches on stop name and parent-station name."""
    named = (
        itin_stops.join(stops.select("stop_key", "name"), "stop_key", "left")
        .join(parent_map, "stop_key", "left")
        .join(
            stations.select(
                F.col("station_key").alias("parent_station"),
                F.col("name").alias("parent_name"),
            ),
            "parent_station",
            "left",
        )
        .select("itinerary_osm_id", "pos", "stop_key", "name", "parent_name")
    )
    aligned = SP.align_stops(named, per_service)
    return SP.interpolate_times_distance(aligned, stops.select("stop_key", "lat", "lon"))


def _schedule_trips_full(per_service):
    """O5 id determinism for the schedule path: reference insertion order
    is lines by ref, itineraries in member order, services in
    first-occurrence order, then time rows — a two-phase global index
    over (route, itinerary seq, service order, departure)."""
    return (
        global_index(
            per_service.select(
                "itinerary_osm_id",
                "service",
                "route_id",
                "to",
                "itinerary_id",
                "seq",
                "svc_order",
                F.posexplode("times").alias("trip_seq", "_times"),
            ),
            ["route_id", "seq", "itinerary_osm_id", "svc_order", "trip_seq"],
            "_trip_idx",
            small_threshold=SMALL_INDEX_THRESHOLD,
        )
        .withColumn("trip_id", F.col("_trip_idx").cast("string"))
        .select(
            "trip_id",
            "route_id",
            SP.service_id_col().alias("service_id"),
            F.col("itinerary_id").alias("shape_id"),
            F.col("to").alias("trip_headsign"),
            "itinerary_osm_id",
            "service",
            "trip_seq",
        )
    )


def _schedule_stop_times(filled, trips_full):
    st_order = Window.partitionBy("trip_id").orderBy("pos")
    return (
        filled.join(
            trips_full.select("trip_id", "itinerary_osm_id", "service", "trip_seq"),
            ["itinerary_osm_id", "service", "trip_seq"],
        )
        .filter(F.col("time_secs_filled").isNotNull())
        .select(
            "trip_id",
            gtfs.secs_to_gtfs(F.col("time_secs_filled")).alias("arrival_time"),
            gtfs.secs_to_gtfs(F.col("time_secs_filled")).alias("departure_time"),
            "stop_key",
            F.row_number().over(st_order).alias("stop_sequence"),
            "timepoint",
            "pos",
        )
        .drop("pos")
    )


def _live_trips(trips_full, stop_times):
    """Trips that lost all stops (invalid-time truncation at the first
    stop) produce no stop_times and are pruned like unused routes."""
    return trips_full.join(stop_times.select("trip_id").distinct(), "trip_id", "left_semi")
