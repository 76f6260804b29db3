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
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2gtfs_spark.functions.geo import TRANSITFEED_RADIUS_M, haversine_m
from osm2gtfs_spark.operators.indexing import global_index
from osm2gtfs_spark.operators.spatial import cluster_stops_greedy
from osm2gtfs_spark.plans import gtfs
from osm2gtfs_spark.sources import docs as docs_mod

ACCRA_NAME_WITHOUT = "Add a name to the stop with JungleBus app"


@dataclass
class AccraTables:
    stops: DataFrame  # points + areas, golden stops.txt shape
    routes: DataFrame
    trips: DataFrame
    stop_times: DataFrame
    frequencies: DataFrame
    shapes: DataFrame


def build_accra_tables(stops_docs: DataFrame, routes_docs: DataFrame) -> AccraTables:
    nodes_s = docs_mod.decode_nodes(stops_docs)
    nodes_r = docs_mod.decode_nodes(routes_docs)
    ways_r = docs_mod.decode_ways(routes_docs)
    relations = docs_mod.decode_relations(routes_docs)

    # --- stop points: every valid candidate, bare-osm_id stop ids -----
    stop_points = gtfs.build_stops(nodes_s, docs_mod.decode_ways(stops_docs), ACCRA_NAME_WITHOUT).select(
        "stop_key",
        "osm_id",
        F.col("osm_id").cast("string").alias("stop_id"),
        "name",
        "lat",
        "lon",
    ).cache()

    # --- stop areas: greedy 500 m clustering per name ------------------
    clusters = cluster_stops_greedy(stop_points).cache()
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
    stops_out = (
        stop_points.join(parent, "stop_key")
        .select(
            gtfs.py2_float_str("lon").alias("stop_lon"),
            F.col("name").alias("stop_name"),
            gtfs.py2_float_str("lat").alias("stop_lat"),
            "stop_id",
            F.lit("").alias("location_type"),
            "parent_station",
        )
        .unionByName(
            centers.select(
                gtfs.py2_float_str("lon").alias("stop_lon"),
                F.col("name").alias("stop_name"),
                gtfs.py2_float_str("lat").alias("stop_lat"),
                "stop_id",
                F.lit("1").alias("location_type"),
                F.lit("").alias("parent_station"),
            )
        )
    )

    # --- lines + itineraries -------------------------------------------
    lines, itins = gtfs.build_lines(relations)
    # Accra: only mastered lines exist; order lines by ref (lexicographic)
    lines = lines.cache()
    itins = itins.cache()

    # long name from LAST itinerary with both fr and to (member order)
    w_last = Window.partitionBy("line_osm_id").orderBy(F.col("seq").desc(), F.col("itinerary_osm_id").desc())
    long_names = (
        itins.filter(F.col("fr").isNotNull() & F.col("to").isNotNull())
        .withColumn("_rn", F.row_number().over(w_last))
        .filter("_rn = 1")
        .select("line_osm_id", F.concat("fr", F.lit(" ↔ "), "to").alias("route_long_name"))
    )
    routes_out = (
        lines.join(long_names, "line_osm_id", "left")
        .select(
            F.lit("3").alias("route_type"),
            F.col("line_osm_id").cast("string").alias("route_id"),
            F.col("route_id").alias("route_short_name"),
            F.coalesce("route_long_name", F.lit("")).alias("route_long_name"),
            F.lit("1779c2").alias("route_color"),
            F.lit("ffffff").alias("route_text_color"),
            F.col("route_id").alias("_ref"),
        )
    )

    # --- trips: transitfeed insertion order = sorted(ref) then member --
    itin_order = Window.partitionBy("l_ref").orderBy("seq", "itinerary_osm_id")  # l_ref 1:1 line (J2); shares the index window partitioning
    line_dim = F.broadcast(
        lines.select("line_osm_id", F.col("route_id").alias("l_ref"), F.col("tags").alias("line_tags"))
    )
    trips_full = (
        global_index(
            itins.drop("route_id").join(line_dim, "line_osm_id"),
            ["l_ref", "seq", "itinerary_osm_id"],
            "_trip_idx",
            start=0,
        )
        .withColumn("direction_id", (F.row_number().over(itin_order) - 1) % 2)
        .withColumn("trip_id", F.col("_trip_idx").cast("string"))
        .drop("_trip_idx")
        .withColumn(
            "frequency_min",
            F.coalesce(
                F.when(
                    F.try_element_at("line_tags", F.lit("frequency")).cast("int") > 0,
                    F.try_element_at("line_tags", F.lit("frequency")).cast("int"),
                ),
                F.lit(gtfs.DEFAULT_ROUTE_FREQUENCY),
            ),
        )
        .withColumn(
            "travel_min",
            F.coalesce(
                F.when(
                    F.try_element_at("tags", F.lit("travel_time")).cast("int") > 0,
                    F.try_element_at("tags", F.lit("travel_time")).cast("int"),
                ),
                F.lit(gtfs.DEFAULT_TRAVEL_TIME),
            ),
        )
        .cache()
    )
    trips_out = trips_full.select(
        F.col("line_osm_id").cast("string").alias("route_id"),
        "trip_id",
        F.lit("0").alias("service_id"),
        F.col("itinerary_osm_id").cast("string").alias("shape_id"),
        F.col("direction_id").cast("string").alias("direction_id"),
        # headsign only when BOTH fr and to exist (trips_creator_gh_accra:50-52)
        F.when(F.col("fr").isNotNull() & F.col("to").isNotNull(), F.col("to"))
        .otherwise("")
        .alias("trip_headsign"),
    )
    frequencies_out = trips_full.select(
        "trip_id",
        F.lit(gtfs.FREQ_START).alias("start_time"),
        F.lit(gtfs.FREQ_END).alias("end_time"),
        (F.col("frequency_min") * 60).cast("string").alias("headway_secs"),
        # transitfeed writes exact_times=0 for AddFrequency (golden)
        F.lit("0").alias("exact_times"),
    )

    # --- stop_times: distance-weighted interpolation -------------------
    itin_stops = gtfs.itinerary_stops(relations)
    st = (
        trips_full.select("trip_id", "itinerary_osm_id", "travel_min")
        .join(itin_stops, "itinerary_osm_id")
        .join(stop_points.select("stop_key", "stop_id", "lat", "lon"), "stop_key")
    )
    w_seq = Window.partitionBy("trip_id").orderBy("pos")
    w_all = Window.partitionBy("trip_id")
    st = (
        st.withColumn("prev_lat", F.lag("lat").over(w_seq))
        .withColumn("prev_lon", F.lag("lon").over(w_seq))
        .withColumn(
            "leg_m",
            F.when(
                F.col("prev_lat").isNull(), F.lit(0.0)
            ).otherwise(haversine_m("prev_lat", "prev_lon", "lat", "lon", radius=TRANSITFEED_RADIUS_M)),
        )
        .withColumn("cum_m", F.sum("leg_m").over(w_seq))
        .withColumn("total_m", F.sum("leg_m").over(w_all))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .filter(F.col("n") >= 2)
    )
    secs = F.round(
        F.lit(gtfs.FIRST_DEPARTURE_SECS)
        + F.col("travel_min") * 60 * F.col("cum_m") / F.col("total_m"),
        0,
    ).cast("long")
    stop_times_out = st.select(
        "trip_id",
        gtfs.secs_to_gtfs(secs).alias("arrival_time"),
        gtfs.secs_to_gtfs(secs).alias("departure_time"),
        "stop_id",
        (F.col("pos") + 1).cast("string").alias("stop_sequence"),
    )
    # --- shapes: per itinerary with trips; 1-based transitfeed seqs ----
    shapes_out = (
        gtfs.build_shapes(relations, ways_r, docs_mod.decode_nodes(routes_docs))
        .join(trips_full.select("itinerary_osm_id").distinct(), "itinerary_osm_id")
        .select(
            F.col("itinerary_osm_id").cast("string").alias("shape_id"),
            gtfs.py2_float_str("shape_pt_lat").alias("shape_pt_lat"),
            gtfs.py2_float_str("shape_pt_lon").alias("shape_pt_lon"),
            (F.col("shape_pt_sequence") + 1).cast("string").alias("shape_pt_sequence"),
        )
    )
    return AccraTables(
        stops=stops_out,
        routes=routes_out.drop("_ref"),
        trips=trips_out,
        stop_times=stop_times_out,
        frequencies=frequencies_out,
        shapes=shapes_out,
    )
