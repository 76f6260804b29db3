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

Flow: :func:`stages` is the shared XML stage table
(:func:`~osm2gtfs_spark.plans.pipeline.xml_stages`, no shapes) plus the
service windows and the trips; the stage walk stores each stage once,
and :func:`build_abidjan_tables` derives the output tables from the
stored stages.

Scale shape: everything is column math + equi joins; the only Python
is the vectorized opening_hours parser (memoized per distinct tag
combination, so ~O(distinct schedules) not O(rows)), run once, in the
windows stage.
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
from osm2gtfs_spark.operators.indexing import global_index
from osm2gtfs_spark.plans import gtfs, pipeline
from osm2gtfs_spark.plans.pipeline import Stage

DEFAULT_TRIP_DURATION_MIN = 120  # trips_creator_ci_abidjan.py:30


@dataclass
class AbidjanTables:
    agencies: DataFrame
    routes: DataFrame
    calendar: DataFrame
    trips: DataFrame
    frequencies: DataFrame
    stop_times: DataFrame
    stops: DataFrame  # stops.txt shape


def _windows_for(tags_col, solar_times: dict | None = None):
    """Schedule windows from a tags map column ([] when unparseable)."""
    return oh_windows(
        F.try_element_at(tags_col, F.lit("opening_hours")),
        F.try_element_at(tags_col, F.lit("interval")),
        F.try_element_at(tags_col, F.lit("interval:conditional")),
        solar_times=solar_times,
    )


def stages(solar_times: dict | None = None) -> tuple[Stage, ...]:
    return pipeline.xml_stages("abidjan", "Arret sans nom", shapes=False) + (
        Stage(
            ("abidjan_windows",), ("route_lines", "route_itineraries"),
            lambda lines, itins: _windows(lines, itins, solar_times),
        ),
        Stage(("abidjan_trips",), ("abidjan_windows", "route_lines", "route_itineraries"), _trips),
    )


def _windows(lines: DataFrame, itins: DataFrame, solar_times: dict | None) -> DataFrame:
    """One row per (itinerary, window): itinerary tags ▸ line tags ▸ city
    default."""
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
    return itin_win.select(
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


def _trips(win: DataFrame, lines: DataFrame, itins: DataFrame) -> DataFrame:
    """One trip per (itinerary × service) in transitfeed id order. Service
    order within an itinerary = first-window order (reference: dict
    insertion order of service ids)."""
    svc_order = win.groupBy("line_osm_id", "itinerary_osm_id", "service_id").agg(
        F.min("win_pos").alias("svc_pos")
    )
    line_ref = F.broadcast(lines.select("line_osm_id", F.col("route_id").alias("l_ref")))
    trip_keys = (
        svc_order.join(line_ref, "line_osm_id")
        .join(
            itins.select("itinerary_osm_id", "seq", "fr", "to", "tags"),
            "itinerary_osm_id",
        )
    )
    dir_order = Window.partitionBy("l_ref").orderBy("seq", "itinerary_osm_id", "svc_pos")  # l_ref 1:1 line (J2); shares the index window partitioning
    return (
        global_index(
            trip_keys,
            ["l_ref", "seq", "itinerary_osm_id", "svc_pos"],
            "_trip_idx",
            start=0,
        )
        .withColumn("trip_id", F.col("_trip_idx").cast("string"))
        .drop("_trip_idx")
        .withColumn("direction_id", (F.row_number().over(dir_order) - 1) % 2)
        .withColumn("duration_min", gtfs.positive_int_tag("tags", "duration", DEFAULT_TRIP_DURATION_MIN))
    )


def build_abidjan_tables(
    stops_docs: DataFrame,
    routes_docs: DataFrame,
    default_agency: dict | None = None,
    start_date: str = "20200101",
    end_date: str = "20201231",
    solar_times: dict | None = None,
    catalog=None,
) -> AbidjanTables:
    default_agency = default_agency or {
        "agency_id": "divers",
        "agency_name": "Divers opérateurs",
        "agency_url": "https://wiki.openstreetmap.org/wiki/FR:WikiProject_C%C3%B4te_d'Ivoire/Transport_Abidjan",
        "agency_timezone": "Africa/Abidjan",
    }
    s = pipeline._run(stages(solar_times), {"stops_docs": stops_docs, "routes_docs": routes_docs}, catalog)
    lines, win, trips_full = s["route_lines"], s["abidjan_windows"], s["abidjan_trips"]

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
    agencies = stops_docs.sparkSession.createDataFrame(
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
    routes = (
        lines.join(gtfs.last_fr_to_long_names(s["route_itineraries"]), "line_osm_id", "left")
        .join(line_net.select("line_osm_id", "network"), "line_osm_id", "left")
        .select(
            gtfs.route_type_code().alias("route_type"),
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
    return AbidjanTables(
        agencies=agencies,
        routes=routes,
        calendar=calendar,
        trips=trips,
        frequencies=frequencies,
        # duration-tag travel time
        stop_times=gtfs.interpolated_stop_times(
            trips_full, s["route_itin_stops"], s["abidjan_stops"], "duration_min"
        ).drop("stop_key"),
        stops=gtfs.stops_txt(s["abidjan_stops"], F.col("stop_id"), "0", F.lit("")),
    )
