"""Florianópolis golden-parity pipeline: OSM + Fenix schedule → GTFS.

Reproduces the reference's br_florianopolis creators
(`osm2gtfs/creators/br_florianopolis/`):

- stops (stops_creator_br_florianopolis.py:8-13): stop_id = bare
  osm_id; name_without "Ponto sem nome"; no auto-naming; no stations
  in the fixture.
- route selection (trips_creator_br_florianopolis.py:66-94): lines
  iterated sorted by ref; skipped when ref ∈ BLACKLIST, ref not in
  Fenix data, or Fenix duration is "não encontrado". Surviving lines
  get transitfeed auto route_ids 0,1,2,… in that order; long_name =
  Fenix nome; route_url per ref; fixed colours; desc "TEST
  DESCRIPTION" (sic, reference line 101).
- first-stop match (J8, :255-287): itinerary's first OSM stop name
  (or its 'from' tag) is matched against the day's Fenix departure
  places after normalization (:289-298): terminal-prefix regex
  collapse + literal replacements — pure `regexp_replace`, JVM-side.
- trips (:158-232): per line, day groups in order weekday → saturday
  → sunday (exception dates all precede the feed start in the golden,
  :137-151); within a day, itineraries in master-member order; one
  trip per departure time; trip_id = transitfeed auto-increment in
  exactly that order (O5); headsign = the ITINERARY's OSM name;
  direction_id/block_id/wheelchair/bikes empty (navitia quirk).
- stop_times (:234-253, add_trip_stops :300-332): first stop timed at
  the departure, last stop at departure + Fenix duration, interior
  stops filled by the one W6 fill
  (:func:`~osm2gtfs_spark.plans.gtfs.interpolate_times_distance`).
- shapes (:190-198): shape_id = ref; the points are the FIRST matched
  itinerary's stitched shape (both directions share it — reference
  quirk preserved).
- calendar: weekday/saturday/sunday rows over the configured feed
  dates (the golden was generated 2018-03 → 20180301/20190228).

Flow: :func:`stages` is the shared XML stage table
(:func:`~osm2gtfs_spark.plans.pipeline.xml_stages`) plus the Fenix
decode, the line selection, the first-stop match, the service
exceptions and the trips; the stage walk stores each stage once, and
:func:`build_florianopolis_tables` derives the output tables from the
stored stages.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2gtfs_spark.operators.indexing import global_index
from osm2gtfs_spark.plans import gtfs, pipeline
from osm2gtfs_spark.plans.pipeline import Stage
from osm2gtfs_spark.sources import fenix as fx

BLACKLIST = ["10200", "12400", "328", "466", "665", "464"]


@dataclass
class FlorianopolisTables:
    stops: DataFrame  # stops.txt shape
    routes: DataFrame
    calendar: DataFrame
    calendar_dates: DataFrame
    trips: DataFrame
    stop_times: DataFrame
    shapes: DataFrame


def normalize_stop_name(col):
    """trips_creator_br_florianopolis.py:289-298, as column math."""
    c = F.regexp_replace(col, r"(TICAN|TISAN|TICEN|TITRI|TILAG|TIRIO|TISAC).*", r"$1")
    c = F.regexp_replace(c, r"Terminal de Integração da Lagoa da Conceição", "TILAG")
    c = F.regexp_replace(c, r"Terminal Centro", "TICEN")
    c = F.regexp_replace(c, r"Terminal Rio Tavares", "TIRIO")
    c = F.regexp_replace(c, r"Itacurubi", "Itacorubi")
    return c


def stages(start_date: str = "20180301") -> tuple[Stage, ...]:
    return pipeline.xml_stages("floripa", "Ponto sem nome") + (
        Stage(("fenix",), ("fenix_docs",), fx.decode_fenix),
        Stage(("floripa_lines",), ("route_lines", "fenix"), _select_lines),
        Stage(
            ("floripa_matched",),
            ("route_itineraries", "floripa_lines", "route_itin_stops", "floripa_stops", "fenix"),
            _match_first_stops,
        ),
        Stage(("floripa_exceptions",), ("fenix",), lambda fen: _exceptions(fen, start_date)),
        Stage(("floripa_trips",), ("floripa_matched", "floripa_exceptions", "fenix"), _trips),
    )


def _departures(fen: DataFrame) -> DataFrame:
    return fx.fenix_departures(fen).withColumn("saida_norm", normalize_stop_name("saida"))


def _select_lines(lines: DataFrame, fen: DataFrame) -> DataFrame:
    """Line selection + the transitfeed route_id sequence."""
    sel = (
        lines.filter(F.col("route_id").isNotNull())
        .filter(~F.col("route_id").isin(BLACKLIST))
        .join(
            F.broadcast(fx.fenix_lines(fen).withColumnRenamed("ref", "route_id")),
            "route_id",
            "inner",
        )
        .filter(F.col("duration_secs").isNotNull())
    )
    # dense 0-based route index; bucketed by a 2-char prefix of the ref
    # (monotone coarsening of the ordering) so no full-table
    # single-partition window is needed even at corpus-scale route counts
    return (
        global_index(
            sel.withColumn("_bkt", F.substring("route_id", 1, 2)),
            ["_bkt", "route_id"],
            "_route_idx",
            bucket_cols=["_bkt"],
            start=0,
        )
        .withColumn("gtfs_route_id", F.col("_route_idx").cast("string"))
        .drop("_bkt", "_route_idx")
    )


def _match_first_stops(
    itins: DataFrame, sel: DataFrame, itin_stops: DataFrame, stops: DataFrame, fen: DataFrame
) -> DataFrame:
    """First-stop match per (itinerary, day)."""
    first_stop = (
        itin_stops.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("itinerary_osm_id").orderBy("pos")
            ),
        )
        .filter("_rn = 1")
        .join(stops.select("stop_key", F.col("name").alias("first_name")), "stop_key")
        .select("itinerary_osm_id", "first_name")
    )
    # itineraries of selected lines with ≥2 RAW platform members — the
    # reference counts unresolved members too (:171-174 len(route.stops))
    n_stops = itin_stops.groupBy("itinerary_osm_id").agg(
        F.count(F.lit(1)).alias("n_stops")
    )
    cand = (
        itins.join(
            sel.select("line_osm_id", F.col("route_id").alias("ref"), "duration_secs"),
            "line_osm_id",
        )
        .join(first_stop, "itinerary_osm_id")
        .join(n_stops, "itinerary_osm_id")
        .filter(F.col("n_stops") >= 2)
        .withColumn("first_norm", normalize_stop_name("first_name"))
        .withColumn(
            "from_norm", normalize_stop_name(F.coalesce(F.col("fr"), F.lit("")))
        )
    )
    day_keys = _departures(fen).select("ref", "day_kind", "saida", "saida_norm").distinct()
    return (
        cand.join(F.broadcast(day_keys), "ref")
        .filter(
            (F.col("saida_norm") == F.col("first_norm"))
            | (F.col("saida_norm") == F.col("from_norm"))
        )
        # at most one Fenix departure place matches an itinerary per day
        # (reference returns the first dict hit; deterministic tie-break)
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("itinerary_osm_id", "day_kind").orderBy("saida")
            ),
        )
        .filter("_rk = 1")
        .drop("_rk")
        .withColumn(
            "day_order",
            F.when(F.col("day_kind") == "weekday", 0)
            .when(F.col("day_kind") == "saturday", 1)
            .otherwise(2),
        )
    )


def _exceptions(fen: DataFrame, start_date: str) -> DataFrame:
    """Service exceptions (operacoes with date >= feed start).

    reference :137-151 + get_exception_service_period :234-253: per
    exception date a one-day service "<yyyymmdd>_<tipo>" is created,
    the matching base service gets a calendar_dates removal, and that
    day's Sábado/Domingo trips are ALSO emitted under the exception
    service — BEFORE the regular weekday/sat/sun trips, in operacoes
    order. (All golden dates precede the feed start, so this path is
    empty there; it is exercised by the synthetic-start test.)"""
    return (
        fx.fenix_exceptions(fen)
        .filter(F.to_date("data") >= F.to_date(F.lit(start_date), "yyyyMMdd"))
        .withColumn("date_str", F.date_format(F.to_date("data"), "yyyyMMdd"))
        .withColumn(
            "day_kind",
            F.when(F.col("tipo") == fx.SATURDAY, "saturday").when(
                F.col("tipo") == fx.SUNDAY, "sunday"
            ),
        )
        .filter(F.col("day_kind").isNotNull())
        .withColumn("exc_service", F.concat("date_str", F.lit("_"), "tipo"))
    )


def _groups(matched: DataFrame, exc: DataFrame) -> DataFrame:
    """Regular day groups plus the exception-service groups."""
    group_cols = matched.columns + ["service_out", "day_order2"]
    reg_groups = matched.withColumn("service_out", F.col("day_kind")).withColumn(
        "day_order2", F.lit(1_000_000) + F.col("day_order")
    )
    exc_groups = (
        matched.join(
            exc.select("ref", "day_kind", "exc_idx", "exc_service"),
            ["ref", "day_kind"],
        )
        .withColumn("service_out", F.col("exc_service"))
        .withColumn("day_order2", F.col("exc_idx"))
    )
    return reg_groups.select(*group_cols).unionByName(exc_groups.select(*group_cols))


def _trips(matched: DataFrame, exc: DataFrame, fen: DataFrame) -> DataFrame:
    """Trips in transitfeed insertion order.

    reference loop: line (sorted by ref) → exceptions (operacoes order)
    → day (weekday, sat, sun) → itinerary (member order) → group → point
    masterless itineraries (Itinerary.line is None, osm_connector:409-411)
    get DOUBLE duration when the day has more than one departure place —
    "only one instead of two trips" (trips_creator_br_florianopolis.py:216-221)"""
    fen_deps = _departures(fen)
    n_saidas = fen_deps.groupBy("ref", "day_kind").agg(
        F.count_distinct("saida").alias("n_saidas")
    )
    return (
        global_index(
            _groups(matched, exc).join(
                fen_deps.select("ref", "day_kind", "saida", "grp", "pt", "dep_secs"),
                ["ref", "day_kind", "saida"],
            ).join(F.broadcast(n_saidas), ["ref", "day_kind"]),
            ["ref", "day_order2", "seq", "itinerary_osm_id", "grp", "pt"],
            "_trip_idx",
            start=0,
        )
        .withColumn("trip_id", F.col("_trip_idx").cast("string"))
        .drop("_trip_idx")
        .withColumn(
            "factor",
            F.when(
                (F.col("n_saidas") > 1)
                & (F.col("line_osm_id") == F.col("itinerary_osm_id")),
                2,
            ).otherwise(1),
        )
        .withColumn(
            "end_secs", F.col("dep_secs") + F.col("duration_secs") * F.col("factor")
        )
    )


def _stop_times(trips_full: DataFrame, itin_stops: DataFrame, stops: DataFrame) -> DataFrame:
    """stop_times.txt rows: the first stop timed at the departure, the
    last at ``end_secs``, interior stops distance-interpolated.

    A raw platform member that resolves to no stop is silently skipped
    by the reference (add_trip_stops isinstance check, :303-305) — but
    the departure is only written at raw index 1 and the arrival only
    at raw index len(stops) (:306-320), so an unresolved FIRST/LAST
    member means a missing timepoint and transitfeed's interpolation
    fails → those times stay EMPTY in the golden (helper.py:56-68
    swallows the error). So raw pos 0 and the last raw pos are the only
    timepoints, each only when it resolves; the fill leaves every stop
    past a missing one NULL, which ``secs_to_gtfs`` writes as ''."""
    resolved = itin_stops.join(stops.select("stop_key", "stop_id", "lat", "lon"), "stop_key")
    last_raw = itin_stops.groupBy("itinerary_osm_id").agg(F.max("pos").alias("last_raw_pos"))
    st = (
        trips_full.select("trip_id", "itinerary_osm_id", "dep_secs", "end_secs")
        .join(resolved, "itinerary_osm_id")
        .join(F.broadcast(last_raw), "itinerary_osm_id")
        .withColumn(
            "time_secs",
            F.when(F.col("pos") == 0, F.col("dep_secs"))
            .when(F.col("pos") == F.col("last_raw_pos"), F.col("end_secs"))
            .cast("long"),
        )
    )
    time_str = gtfs.secs_to_gtfs(F.col("time_secs_filled"))
    seq = F.row_number().over(Window.partitionBy("trip_id").orderBy("pos"))
    return gtfs.interpolate_times_distance(st, ["trip_id"]).select(
        "trip_id",
        time_str.alias("arrival_time"),
        time_str.alias("departure_time"),
        "stop_id",
        seq.cast("string").alias("stop_sequence"),
    )


def build_florianopolis_tables(
    stops_docs: DataFrame,
    routes_docs: DataFrame,
    fenix_docs: DataFrame,
    start_date: str = "20180301",
    end_date: str = "20190228",
    catalog=None,
) -> FlorianopolisTables:
    s = pipeline._run(
        stages(start_date),
        {"stops_docs": stops_docs, "routes_docs": routes_docs, "fenix_docs": fenix_docs},
        catalog,
    )
    sel, exc, trips_full = s["floripa_lines"], s["floripa_exceptions"], s["floripa_trips"]
    # bare osm_id stop ids
    stops = s["floripa_stops"].withColumn("stop_id", F.col("osm_id").cast("string"))

    routes = sel.select(
        F.lit("3").alias("route_type"),
        F.col("gtfs_route_id").alias("route_id"),
        F.col("route_id").alias("route_short_name"),
        F.col("nome").alias("route_long_name"),
        F.lit("BR-Floripa").alias("agency_id"),
        F.lit("TEST DESCRIPTION").alias("route_desc"),
        F.concat(
            F.lit("http://www.consorciofenix.com.br/horarios?q="), F.col("route_id")
        ).alias("route_url"),
        F.lit("1779c2").alias("route_color"),
        F.lit("ffffff").alias("route_text_color"),
    )

    line_ids = F.broadcast(sel.select("line_osm_id", "gtfs_route_id"))
    itin_names = s["route_relations"].select(
        F.col("id").alias("itinerary_osm_id"),
        F.try_element_at("tags", F.lit("name")).alias("itin_name"),
    )
    trips = (
        trips_full.join(line_ids, "line_osm_id")
        .join(F.broadcast(itin_names), "itinerary_osm_id", "left")
        .select(
            F.col("gtfs_route_id").alias("route_id"),
            "trip_id",
            F.coalesce("itin_name", F.lit("")).alias("trip_headsign"),
            F.col("service_out").alias("service_id"),
            F.lit("").alias("block_id"),
            F.lit("").alias("wheelchair_accessible"),
            F.lit("").alias("bikes_allowed"),
            F.col("ref").alias("shape_id"),
            F.lit("").alias("direction_id"),
        )
    )

    # --- calendar + calendar_dates ----------------------------------------
    base_calendar = stops_docs.sparkSession.createDataFrame(
        [
            ("weekday", start_date, end_date, "1", "1", "1", "1", "1", "0", "0"),
            ("saturday", start_date, end_date, "0", "0", "0", "0", "0", "1", "0"),
            ("sunday", start_date, end_date, "0", "0", "0", "0", "0", "0", "1"),
        ],
        "service_id string, start_date string, end_date string, monday string, "
        "tuesday string, wednesday string, thursday string, friday string, "
        "saturday string, sunday string",
    )
    # one-day exception services: day-of-week flag of the DATE
    wd = F.weekday(F.to_date("data"))  # 0 = Monday
    exc_calendar = (
        exc.select("exc_service", "date_str", "data")
        .dropDuplicates(["exc_service"])
        .select(
            F.col("exc_service").alias("service_id"),
            F.col("date_str").alias("start_date"),
            F.col("date_str").alias("end_date"),
            *[
                (wd == i).cast("int").cast("string").alias(day)
                for i, day in enumerate(
                    ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]
                )
            ],
        )
    )
    calendar = base_calendar.unionByName(exc_calendar)
    # base service loses each exception date (SetDateHasService(date, False))
    calendar_dates = (
        exc.select("date_str", "data")
        .dropDuplicates(["date_str"])
        .select(
            F.when(wd <= 4, "weekday")
            .when(wd == 5, "saturday")
            .otherwise("sunday")
            .alias("service_id"),
            F.col("date_str").alias("date"),
            F.lit("2").alias("exception_type"),
        )
    )

    # --- shapes: first matched itinerary per ref owns the shape ----------
    shape_owner = (
        _groups(s["floripa_matched"], exc).withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("ref").orderBy("day_order2", "seq", "itinerary_osm_id")
            ),
        )
        .filter("_rk = 1")
        .select("ref", "itinerary_osm_id")
    )
    # one row per route ref — corpus-scaling, so AQE decides the join
    # strategy (no forced broadcast)
    shapes = gtfs.shapes_txt(s["route_shapes"].join(shape_owner, "itinerary_osm_id"), F.col("ref"))

    return FlorianopolisTables(
        stops=gtfs.stops_txt(stops, F.col("stop_id"), "0", F.lit("")),
        routes=routes,
        calendar=calendar,
        calendar_dates=calendar_dates,
        trips=trips,
        stop_times=_stop_times(trips_full, s["route_itin_stops"], stops),
        shapes=shapes,
    )
