"""Abidjan opening_hours pipeline: OSM tags → frequency GTFS with
per-network agencies and opening_hours-derived service periods.

Reproduces the semantics of the reference's ci_abidjan creators
(`osm2gtfs/creators/ci_abidjan/trips_creator_ci_abidjan.py`):

- agencies (`:96-117`): default agency from config; each distinct
  ``network`` line tag becomes its own agency (id = name = network,
  url = the line's ``operator:website`` tag when present else the
  default agency url).
- routes (`:119-127`): route_id = master osm id, short_name = ref,
  long_name = "fr ↔ to" of the last itinerary carrying both tags,
  fixed colours 1779c2/ffffff, route_desc "".
- service windows (`:82-83,132-148`): itinerary schedule tags
  (opening_hours/interval[,interval:conditional]) win; else the line's
  tags; else the city default "Mo-Su,PH 05:00-22:00" @ 01:00. Windows
  grouped by derived service_id (`:32-53`); one TRIP per
  (itinerary × service_id), one FREQUENCY row per window (`:150-176`).
- direction_id (`:160-161`): route_index % 2 counted over the line's
  (itinerary × service) trips in order.
- stop_times (`:178-221`): first stop 06:00:00, last 06:00 + duration
  minutes (itinerary ``duration`` tag, invalid/non-positive → 120),
  interior stops interpolated by cumulative great-circle distance
  (transitfeed radius 6367000 m) — same kernel the Accra/Estelí golden
  parity verified bit-exact.
- calendar: one row per service_id with its 7 day flags and the feed
  start/end dates (`:55-65`; config feed_info 20200101/20201231).

Scale shape: everything is column math + equi joins; the only Python
is the vectorized opening_hours parser (memoized per distinct tag
combination, so ~O(distinct schedules) not O(rows)).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2gtfs_spark.functions.opening_hours import (
    DEFAULT_INTERVAL,
    DEFAULT_OPENING_HOURS,
    oh_windows,
)
from osm2gtfs_spark.functions.geo import TRANSITFEED_RADIUS_M, haversine_m
from osm2gtfs_spark.operators.indexing import global_index
from osm2gtfs_spark.plans import gtfs
from osm2gtfs_spark.sources import docs as docs_mod

DEFAULT_TRIP_DURATION_MIN = 120  # trips_creator_ci_abidjan.py:30


@dataclass
class AbidjanTables:
    agencies: DataFrame
    routes: DataFrame
    calendar: DataFrame
    trips: DataFrame
    frequencies: DataFrame
    stop_times: DataFrame
    stops: DataFrame


def _windows_for(tags_col, solar_times: dict | None = None):
    """Schedule windows from a tags map column ([] when unparseable)."""
    return oh_windows(
        F.try_element_at(tags_col, F.lit("opening_hours")),
        F.try_element_at(tags_col, F.lit("interval")),
        F.try_element_at(tags_col, F.lit("interval:conditional")),
        solar_times=solar_times,
    )


def build_abidjan_tables(
    stops_docs: DataFrame,
    routes_docs: DataFrame,
    default_agency: dict | None = None,
    start_date: str = "20200101",
    end_date: str = "20201231",
    solar_times: dict | None = None,
) -> AbidjanTables:
    default_agency = default_agency or {
        "agency_id": "divers",
        "agency_name": "Divers opérateurs",
        "agency_url": "https://wiki.openstreetmap.org/wiki/FR:WikiProject_C%C3%B4te_d'Ivoire/Transport_Abidjan",
        "agency_timezone": "Africa/Abidjan",
    }
    spark = stops_docs.sparkSession

    nodes_s = docs_mod.decode_nodes(stops_docs)
    ways_s = docs_mod.decode_ways(stops_docs)
    relations = docs_mod.decode_relations(routes_docs)

    # --- stops: default P11 precedence (no city override) ---------------
    stops = gtfs.build_stops(nodes_s, ways_s, "Arret sans nom").cache()

    lines, itins = gtfs.build_lines(relations)
    lines = lines.cache()
    itins = itins.cache()

    # --- agencies: default + one per distinct network tag ---------------
    line_net = lines.select(
        "line_osm_id",
        F.try_element_at("tags", F.lit("network")).alias("network"),
        F.try_element_at("tags", F.lit("operator:website")).alias("op_site"),
    )
    net_agencies = (
        line_net.filter(F.col("network").isNotNull() & (F.col("network") != ""))
        .groupBy("network")
        # last non-null operator:website wins in reference iteration order;
        # max() is deterministic and matches when ≤1 site per network
        .agg(F.max("op_site").alias("op_site"))
        .select(
            F.coalesce("op_site", F.lit(default_agency["agency_url"])).alias("agency_url"),
            F.col("network").alias("agency_name"),
            F.col("network").alias("agency_id"),
            F.lit(default_agency["agency_timezone"]).alias("agency_timezone"),
            F.lit("").alias("agency_lang"),
        )
    )
    agencies = spark.createDataFrame(
        [
            (
                default_agency["agency_url"],
                default_agency["agency_name"],
                default_agency["agency_id"],
                default_agency["agency_timezone"],
                "",
            )
        ],
        "agency_url string, agency_name string, agency_id string, agency_timezone string, agency_lang string",
    ).unionByName(net_agencies)

    # --- routes ----------------------------------------------------------
    w_last = Window.partitionBy("line_osm_id").orderBy(
        F.col("seq").desc(), F.col("itinerary_osm_id").desc()
    )
    long_names = (
        itins.filter(F.col("fr").isNotNull() & F.col("to").isNotNull())
        .withColumn("_rn", F.row_number().over(w_last))
        .filter("_rn = 1")
        .select("line_osm_id", F.concat("fr", F.lit(" ↔ "), "to").alias("route_long_name"))
    )
    routes = (
        lines.join(long_names, "line_osm_id", "left")
        .join(line_net.select("line_osm_id", "network"), "line_osm_id", "left")
        .select(
            F.when(F.col("route_type") == "Tram", "0")
            .when(F.col("route_type") == "Subway", "1")
            .when(F.col("route_type") == "Rail", "2")
            .when(F.col("route_type") == "Ferry", "4")
            .otherwise("3")
            .alias("route_type"),
            F.col("line_osm_id").cast("string").alias("route_id"),
            F.col("route_id").alias("route_short_name"),
            F.coalesce("route_long_name", "name", F.lit("")).alias("route_long_name"),
            F.coalesce(
                F.when(F.col("network") == "", None).otherwise(F.col("network")),
                F.lit(default_agency["agency_id"]),
            ).alias("agency_id"),
            F.lit("").alias("route_desc"),
            F.lit("1779c2").alias("route_color"),
            F.lit("ffffff").alias("route_text_color"),
        )
    )

    # --- service windows: itinerary tags ▸ line tags ▸ city default -----
    line_windows = lines.select(
        "line_osm_id", _windows_for(F.col("tags"), solar_times).alias("line_win")
    )
    default_win = _windows_for(
        F.create_map(
            F.lit("opening_hours"), F.lit(DEFAULT_OPENING_HOURS),
            F.lit("interval"), F.lit(DEFAULT_INTERVAL),
        ),
        solar_times,
    )
    itin_win = (
        itins.withColumn("itin_win", _windows_for(F.col("tags"), solar_times))
        .join(line_windows, "line_osm_id")
        .withColumn("def_win", default_win)
        .withColumn(
            "windows",
            F.when(F.size("itin_win") > 0, F.col("itin_win"))
            .when(F.size("line_win") > 0, F.col("line_win"))
            .otherwise(F.col("def_win")),
        )
        .drop("itin_win", "line_win", "def_win")
    )

    # one row per (itinerary, window); service order within an itinerary =
    # first-window order (reference: dict insertion order of service ids)
    win = itin_win.select(
        "line_osm_id",
        "itinerary_osm_id",
        "seq",
        "fr",
        "to",
        "tags",
        F.posexplode("windows").alias("win_pos", "w"),
    ).select(
        "*",
        F.col("w.start_secs").alias("start_secs"),
        F.col("w.end_secs").alias("end_secs"),
        F.col("w.headway_secs").alias("headway_secs"),
        F.col("w.service_id").alias("service_id"),
        F.col("w.day_flags").alias("day_flags"),
    )
    svc_order = win.groupBy("line_osm_id", "itinerary_osm_id", "service_id").agg(
        F.min("win_pos").alias("svc_pos")
    )

    # --- calendar --------------------------------------------------------
    calendar = (
        win.select("service_id", "day_flags")
        .dropDuplicates(["service_id"])
        .select(
            "service_id",
            F.lit(start_date).alias("start_date"),
            F.lit(end_date).alias("end_date"),
            *[
                F.col("day_flags")[i].cast("int").cast("string").alias(day)
                for i, day in enumerate(
                    ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
                )
            ],
        )
    )

    # --- trips: one per (itinerary × service); transitfeed id order -----
    line_ref = F.broadcast(lines.select("line_osm_id", F.col("route_id").alias("l_ref")))
    trip_keys = (
        svc_order.join(line_ref, "line_osm_id")
        .join(
            itins.select("itinerary_osm_id", "seq", "fr", "to", "tags"),
            "itinerary_osm_id",
        )
    )
    dir_order = Window.partitionBy("l_ref").orderBy("seq", "itinerary_osm_id", "svc_pos")  # l_ref 1:1 line (J2); shares the index window partitioning
    trips_full = (
        global_index(
            trip_keys,
            ["l_ref", "seq", "itinerary_osm_id", "svc_pos"],
            "_trip_idx",
            start=0,
        )
        .withColumn("trip_id", F.col("_trip_idx").cast("string"))
        .drop("_trip_idx")
        .withColumn("direction_id", (F.row_number().over(dir_order) - 1) % 2)
        .withColumn(
            "duration_min",
            F.coalesce(
                F.when(
                    F.try_element_at("tags", F.lit("duration")).cast("int") > 0,
                    F.try_element_at("tags", F.lit("duration")).cast("int"),
                ),
                F.lit(DEFAULT_TRIP_DURATION_MIN),
            ),
        )
        .cache()
    )
    trips = trips_full.select(
        F.col("line_osm_id").cast("string").alias("route_id"),
        "trip_id",
        "service_id",
        F.col("itinerary_osm_id").cast("string").alias("shape_id"),
        F.col("direction_id").cast("string").alias("direction_id"),
        F.when(F.col("fr").isNotNull() & F.col("to").isNotNull(), F.col("to"))
        .otherwise("")
        .alias("trip_headsign"),
    )

    frequencies = (
        trips_full.select("trip_id", "itinerary_osm_id", "service_id")
        .join(win, ["itinerary_osm_id", "service_id"])
        .select(
            "trip_id",
            gtfs.secs_to_gtfs(F.col("start_secs")).alias("start_time"),
            gtfs.secs_to_gtfs(F.col("end_secs")).alias("end_time"),
            F.col("headway_secs").cast("string").alias("headway_secs"),
            F.lit("0").alias("exact_times"),
        )
    )

    # --- stop_times: distance interpolation, duration-tag travel time ---
    itin_stops = gtfs.itinerary_stops(relations)
    st = (
        trips_full.select("trip_id", "itinerary_osm_id", "duration_min")
        .join(itin_stops, "itinerary_osm_id")
        .join(stops.select("stop_key", "stop_id", "lat", "lon"), "stop_key")
    )
    w_seq = Window.partitionBy("trip_id").orderBy("pos")
    w_all = Window.partitionBy("trip_id")
    st = (
        st.withColumn("prev_lat", F.lag("lat").over(w_seq))
        .withColumn("prev_lon", F.lag("lon").over(w_seq))
        .withColumn(
            "leg_m",
            F.when(F.col("prev_lat").isNull(), F.lit(0.0)).otherwise(
                haversine_m("prev_lat", "prev_lon", "lat", "lon", radius=TRANSITFEED_RADIUS_M)
            ),
        )
        .withColumn("cum_m", F.sum("leg_m").over(w_seq))
        .withColumn("total_m", F.sum("leg_m").over(w_all))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .filter(F.col("n") >= 2)
    )
    secs = F.round(
        F.lit(gtfs.FIRST_DEPARTURE_SECS)
        + F.col("duration_min") * 60 * F.col("cum_m") / F.col("total_m"),
        0,
    ).cast("long")
    stop_times = st.select(
        "trip_id",
        gtfs.secs_to_gtfs(secs).alias("arrival_time"),
        gtfs.secs_to_gtfs(secs).alias("departure_time"),
        "stop_id",
        (F.col("pos") + 1).cast("string").alias("stop_sequence"),
    )
    return AbidjanTables(
        agencies=agencies,
        routes=routes,
        calendar=calendar,
        trips=trips,
        frequencies=frequencies,
        stop_times=stop_times,
        stops=stops,
    )
