"""Accra golden-parity pipeline: reference fixture XML → GTFS tables.

Reproduces the exact semantics of the reference's gh_accra creators so
that outputs match ``gh_accra_gtfs.zip.ref`` (its committed golden):

- stops (stops_creator_gh_accra.py): every valid stop candidate becomes
  a stop point with stop_id = bare osm_id; same-named stops cluster
  greedily (500 m first-fit by osm_id order) into stop areas with
  stop_id = "SA" + founding stop's osm_id, location_type=1.
- routes (routes_creator_gh_accra.py + trips_creator_gh_accra.py:27-39):
  GTFS routes are created by the trips creator: route_id = master OSM
  id, short_name = ref, long_name = "fr ↔ to" of the line's LAST
  itinerary carrying both tags, fixed colours 1779c2/ffffff, type Bus.
- trips (trips_creator_gh_accra.py:22-73): lines iterated sorted by ref
  (lexicographic), itineraries in master-member order; trip_id is the
  transitfeed auto-increment starting at 0 in that exact iteration
  order (O5); direction_id alternates; headsign = itinerary 'to' tag;
  one frequency row 05:00-22:00 with headway = line frequency minutes
  (invalid → 30) × 60.
- stop_times (trips_creator_gh_accra.py:88-110 + transitfeed
  GetTimeInterpolatedStops): first stop 06:00:00, last stop 06:00 +
  travel_time minutes (itinerary tag, invalid → 120); interior stops
  interpolated proportionally to cumulative great-circle DISTANCE
  between consecutive stops (transitfeed radius 6367000 m), rounded to
  whole seconds. Verified bit-exact against the golden zip.

Flow: :func:`stages` is the shared XML stage table
(:func:`~osm2gtfs_spark.plans.pipeline.xml_stages`) plus Accra's stop
areas and the frequency trips of ``gtfs.build_trips``, which the docs
frequency pipeline shares; the stage walk stores each stage once, and
:func:`build_accra_tables` derives the output tables from the stored
stages.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm2gtfs_spark.operators.spatial import cluster_stops_greedy
from osm2gtfs_spark.plans import gtfs, pipeline
from osm2gtfs_spark.plans.pipeline import Stage

ACCRA_NAME_WITHOUT = "Add a name to the stop with JungleBus app"


@dataclass
class AccraTables:
    stops: DataFrame  # points + areas, golden stops.txt shape
    routes: DataFrame
    trips: DataFrame
    stop_times: DataFrame
    frequencies: DataFrame
    shapes: DataFrame


def stages() -> tuple[Stage, ...]:
    return pipeline.xml_stages("accra", ACCRA_NAME_WITHOUT) + (
        # stop areas: greedy 500 m clustering per name
        Stage(("accra_clusters",), ("accra_stops",), cluster_stops_greedy),
        Stage(("accra_trips",), ("route_lines", "route_itineraries"), gtfs.build_trips),
    )


def build_accra_tables(stops_docs: DataFrame, routes_docs: DataFrame, catalog=None) -> AccraTables:
    s = pipeline._run(stages(), {"stops_docs": stops_docs, "routes_docs": routes_docs}, catalog)

    # --- stop points (bare-osm_id stop ids) + stop areas -----------------
    stop_points = s["accra_stops"].select(
        "stop_key",
        "osm_id",
        F.col("osm_id").cast("string").alias("stop_id"),
        "name",
        "lat",
        "lon",
    )
    clusters = s["accra_clusters"]
    parent = clusters.select(
        "stop_key",
        F.concat(F.lit("SA"), F.regexp_extract("cluster_id", r"(\d+)$", 1)).alias("parent_station"),
    )
    centers = (
        clusters.filter("is_center")
        .drop("name")
        .join(stop_points.select("stop_key", "osm_id", "name", "lat", "lon"), "stop_key")
        .select(
            F.concat(F.lit("SA"), F.col("osm_id").cast("string")).alias("stop_id"),
            "name",
            "lat",
            "lon",
        )
    )
    stops_out = gtfs.stops_txt(
        stop_points.join(parent, "stop_key"), F.col("stop_id"), "", F.col("parent_station")
    ).unionByName(gtfs.stops_txt(centers, F.col("stop_id"), "1", F.lit("")))

    # --- routes: only mastered lines exist -------------------------------
    routes_out = (
        s["route_lines"].join(gtfs.last_fr_to_long_names(s["route_itineraries"]), "line_osm_id", "left")
        .select(
            F.lit("3").alias("route_type"),
            F.col("line_osm_id").cast("string").alias("route_id"),
            F.col("route_id").alias("route_short_name"),
            F.coalesce("route_long_name", F.lit("")).alias("route_long_name"),
            F.lit("1779c2").alias("route_color"),
            F.lit("ffffff").alias("route_text_color"),
        )
    )

    trips_full = s["accra_trips"]
    trips_out = trips_full.select(
        F.col("line_osm_id").cast("string").alias("route_id"),
        "trip_id",
        F.lit("0").alias("service_id"),
        F.col("itinerary_osm_id").cast("string").alias("shape_id"),
        F.col("direction_id").cast("string").alias("direction_id"),
        # headsign only when BOTH fr and to exist (trips_creator_gh_accra:50-52)
        F.when(F.col("fr").isNotNull() & F.col("trip_headsign").isNotNull(), F.col("trip_headsign"))
        .otherwise("")
        .alias("trip_headsign"),
    )
    # --- shapes: per itinerary with trips --------------------------------
    shapes_out = gtfs.shapes_txt(
        s["route_shapes"].join(trips_full.select("itinerary_osm_id").distinct(), "itinerary_osm_id"),
        F.col("itinerary_osm_id").cast("string"),
    )
    return AccraTables(
        stops=stops_out,
        routes=routes_out,
        trips=trips_out,
        stop_times=gtfs.interpolated_stop_times(trips_full, s["route_itin_stops"], stop_points, "travel_min").drop(
            "stop_key"
        ),
        frequencies=gtfs.build_frequencies(trips_full),
        shapes=shapes_out,
    )
