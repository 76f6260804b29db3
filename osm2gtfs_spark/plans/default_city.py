"""Default-creator golden pipeline (Estelí / GAM / Managua semantics).

The reference's default creators (no city overrides): schedule-join
trips (trips_creator.py), P11 stop ids, OSM-stop_area stations, colour
normalization + contrast text colours (routes_creator.py). Reproduces
the committed goldens ``ni_esteli_gtfs.zip.ref`` / ``cr_gam_gtfs.zip.ref``
modulo calendar start/end dates (generated from "now" at reference run
time — inherently unreproducible, compared as day-flags only).

Exact-order contract (O5): transitfeed assigns integer trip ids in
insertion order = lines sorted by ref (lexicographic), itineraries in
master-member order, services in first-occurrence (union-walk) order,
then timetable rows in array order; ids start at 0 and are consumed by
every AddTrip, including trips whose stop walk later breaks.

Flow: :func:`stages` is the shared XML stage table
(:func:`~osm2gtfs_spark.plans.pipeline.xml_stages`) plus the stop-area
stations, the timetable decode, the normalized lines, the per-service
schedule join and the trips, numbered from 0 by the schedule
pipeline's own ``_schedule_trips_full``; the stage walk stores each
stage once, and :func:`build_city_tables` derives the output tables
from the stored stages. Its stop times are the schedule pipeline's:
``_schedule_filled`` aligns them and fills the gaps with the one W6
fill (:func:`~osm2gtfs_spark.plans.gtfs.interpolate_times_distance`),
and ``_schedule_stop_times`` numbers them per trip.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2gtfs_spark.functions.colors import contrast_text_colour, normalize_colour
from osm2gtfs_spark.plans import gtfs, pipeline
from osm2gtfs_spark.plans import schedule_path as SP
from osm2gtfs_spark.plans.pipeline import Stage
from osm2gtfs_spark.sources import docs as docs_mod


@dataclass
class CityTables:
    stops: DataFrame
    routes: DataFrame
    trips: DataFrame
    stop_times: DataFrame
    calendar: DataFrame
    shapes: DataFrame


def verify_itineraries(itineraries: DataFrame, schedule: DataFrame) -> DataFrame:
    """_verify_data (trips_creator.py:119-159): keep itineraries whose
    ref exists in the schedule and whose (from,to)-matching rows all
    have stations[0]==from and stations[-1]==to."""
    refs = schedule.select(F.col("route_ref").alias("route_id")).distinct()
    bad = (
        itineraries.join(
            # schedule rows scale with the corpus — AQE decides
            schedule.select(
                "route_ref",
                F.col("from").alias("s_fr"),
                F.col("to").alias("s_to"),
                "stations",
            ),
            (F.col("route_id") == F.col("route_ref"))
            & (F.col("fr") == F.col("s_fr"))
            & (F.col("to") == F.col("s_to")),
        )
        .filter(
            (F.get("stations", 0) != F.col("fr"))
            | (F.element_at("stations", -1) != F.col("to"))
        )
        .select("itinerary_osm_id")
        .distinct()
    )
    return itineraries.join(F.broadcast(refs), "route_id", "left_semi").join(
        F.broadcast(bad), "itinerary_osm_id", "left_anti"
    )


def stages(name_without: str = "stop") -> tuple[Stage, ...]:
    return pipeline.xml_stages("default", name_without) + (
        Stage(("stop_relations",), ("stops_docs",), docs_mod.decode_relations),
        Stage(
            ("default_stations", "default_parent_map"), ("stop_relations", "default_stops"),
            lambda rels, stops: _stations(rels, stops, name_without),
        ),
        Stage(("timetable",), ("timetable_docs",), docs_mod.decode_schedule),
        Stage(
            ("default_lines",), ("route_lines",),
            lambda lines: normalize_colour(lines, "colour", "colour_norm"),
        ),
        Stage(("default_per_service",), ("route_itineraries", "timetable"), _per_service),
        Stage(("default_sched_trips",), ("default_per_service",), pipeline._schedule_trips_full),
    )


def _stations(rels: DataFrame, stops: DataFrame, name_without: str) -> tuple[DataFrame, DataFrame]:
    """OSM stop_area stations; the station name WITHOUT brackets."""
    stations, parent_map = gtfs.build_stations(rels, stops)
    return stations.withColumn(
        "name", F.when(F.col("name") == "[station]", name_without).otherwise(F.col("name"))
    ), parent_map


def _per_service(itins: DataFrame, schedule: DataFrame) -> DataFrame:
    return SP.itinerary_service_schedule(SP.match_schedule(verify_itineraries(itins, schedule), schedule))


def build_city_tables(
    stops_docs: DataFrame,
    routes_docs: DataFrame,
    timetable_docs: DataFrame,
    name_without: str = "stop",
    feed_start: str = "20240101",
    feed_end: str = "20250101",
    catalog=None,
) -> CityTables:
    s = pipeline._run(
        stages(name_without),
        {"stops_docs": stops_docs, "routes_docs": routes_docs, "timetable_docs": timetable_docs},
        catalog,
    )
    stops, stations, parent_map = s["default_stops"], s["default_stations"], s["default_parent_map"]
    per_service, trips_full = s["default_per_service"], s["default_sched_trips"]

    # --- stops + stations (P11 ids) -------------------------------------
    stops_txt = gtfs.stops_txt(
        stops.join(parent_map, "stop_key", "left"), F.col("stop_id"), "0",
        F.coalesce("parent_station", F.lit("")),
    ).unionByName(gtfs.stops_txt(stations, F.col("station_key"), "1", F.lit("")))

    # --- lines → routes.txt (colour normalization + contrast) ----------
    text_colour = F.coalesce(
        gtfs.tag("ref:colour_tx"), contrast_text_colour(F.col("colour_norm"))
    )
    routes_txt = s["default_lines"].select(
        gtfs.route_type_code().alias("route_type"),
        F.col("route_id"),
        F.col("route_id").alias("route_short_name"),
        F.coalesce("name", F.lit("")).alias("route_long_name"),
        # reference strips the first character unconditionally
        # (routes_creator.py:102-107) — '#rrggbb' → 'rrggbb'
        F.substring(F.coalesce("colour_norm", F.lit("#FFFFFF")), 2, 10).alias("route_color"),
        F.substring(text_colour, 2, 10).alias("route_text_color"),
        F.concat(F.lit("https://osm.org/relation/"), F.col("line_osm_id").cast("string")).alias(
            "route_url"
        ),
    )

    # --- trips + stop_times (schedule join path, exact order) ----------
    trips_txt = trips_full.select("route_id", "trip_id", "trip_headsign", "service_id", "shape_id")
    filled = pipeline._schedule_filled(s["route_itin_stops"], stops, parent_map, stations, per_service)
    stop_times_txt = pipeline._schedule_stop_times(filled, trips_full).select(
        "trip_id",
        "arrival_time",
        "departure_time",
        "stop_id",
        F.col("stop_sequence").cast("string").alias("stop_sequence"),
    )
    calendar, _ = SP.build_calendar(per_service.select("service"), feed_start, feed_end)

    # --- shapes: one per itinerary that produced trips (W4/O1) ----------
    # reference _add_shape_to_feed (trips_creator.py:161-176): shape_id =
    # itinerary osm id
    shapes_txt = gtfs.shapes_txt(
        s["route_shapes"].join(
            trips_full.select("itinerary_osm_id", "shape_id").distinct(),
            "itinerary_osm_id",
        ),
        F.col("shape_id"),
    )
    return CityTables(
        stops=stops_txt,
        routes=routes_txt,
        trips=trips_txt,
        stop_times=stop_times_txt,
        calendar=calendar,
        shapes=shapes_txt,
    )
