"""Schedule-join path (Managua): timetable × itineraries → trips.

Reference semantics (osm2gtfs/creators/trips_creator.py):

- J5  `_prepare_trips` (:75-117): schedule rows match an itinerary on
  (route_ref == route_id, from, to, via) with via null-tolerant; the
  itinerary's service list is the order-preserving union over matches.
- `_load_itinerary_schedule` (:334-354): for one (itinerary, service),
  departure time-rows are concatenated over ALL matching schedule rows
  containing that service.
- `_load_scheduled_stops` (:356-376): timed station names come from the
  FIRST matching row only (reference breaks after one).
- J7/W5 `_add_itinerary_trips` (:178-278): per trip, walk itinerary
  stops in order keeping a monotone cursor into the station-name list;
  name match from the cursor, parent-station name as fallback; a stop
  may only match the last station slot if it is also the last itinerary
  stop (last-stop pinning); invalid "%H:%M" time → stop adding stops
  (truncate); matched stops become timepoints.
- W6 `Helper.interpolate_stop_times` (helper.py:56-68): untimed stops
  get times linearly interpolated by cumulative DISTANCE between
  surrounding timepoints — the engine's one fill,
  :func:`osm2gtfs_spark.plans.gtfs.interpolate_times_distance`, which
  ``pipeline._schedule_filled`` calls on the aligned rows.
- `_create_gtfs_service_period` (:280-332): service keywords → day
  flags; YYYY-MM-DD → a dated service with a calendar_dates exception.

Spark shape: J5 is a broadcast join (schedule ≪ itineraries' corpus);
J7 is the one genuinely sequential kernel — a cogrouped applyInPandas
per (itinerary, service).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SERVICE_DAY_FLAGS = {
    "Mo-Fr": (1, 1, 1, 1, 1, 0, 0),
    "Mo-Sa": (1, 1, 1, 1, 1, 1, 0),
    "Mo-Su": (1, 1, 1, 1, 1, 1, 1),
    "Sa": (0, 0, 0, 0, 0, 1, 0),
    "Su": (0, 0, 0, 0, 0, 0, 1),
    "Sa-Su": (0, 0, 0, 0, 0, 1, 1),
}
_DATE_RE = re.compile(r"^([0-9]{4})-?(1[0-2]|0[1-9])-?(3[01]|0[1-9]|[12][0-9])$")
_TIME_RE = re.compile(r"^([0-9]{1,2}):([0-9]{2})$")


def match_schedule(itineraries: DataFrame, schedule_trips: DataFrame) -> DataFrame:
    """J5: composite equi join, via null-safe. One row per
    (itinerary, matching schedule row, service)."""
    sched = schedule_trips.select(
        F.col("route_ref"),
        F.col("from").alias("s_fr"),
        F.col("to").alias("s_to"),
        F.col("via").alias("s_via"),
        "services",
        "stations",
        "times",
        "row_idx",
    )
    # no broadcast hint: the schedule table scales with the corpus; AQE
    # broadcasts it when it actually fits (policy: hints only on bounded dims)
    j = itineraries.join(
        sched,
        (F.col("route_id") == F.col("route_ref"))
        & (F.col("fr") == F.col("s_fr"))
        & (F.col("to") == F.col("s_to"))
        & F.col("via").eqNullSafe(F.col("s_via")),
        "inner",
    )
    return j.select(
        "itinerary_osm_id",
        "line_osm_id",
        "route_id",
        "fr",
        "via",
        "to",
        "itinerary_id",
        F.posexplode("services").alias("svc_pos", "service"),
        "stations",
        "times",
        "row_idx",
        "seq",
    )


def itinerary_service_schedule(matched: DataFrame) -> DataFrame:
    """Collapse to one row per (itinerary, service) with the reference's
    exact ordering semantics (trips_creator.py:82-94, 334-376):

    - times: concatenation over ALL matching rows containing the
      service, in timetable-row order (row_idx);
    - stations: the FIRST matching row's stations (reference breaks);
    - svc_order: the service's first-occurrence position in the
      order-preserving union walk (row order, then position within the
      row's services array) — trip_id assignment iterates services in
      exactly this order (O5)."""
    return (
        matched.groupBy("itinerary_osm_id", "service")
        .agg(
            F.first("line_osm_id").alias("line_osm_id"),
            F.first("route_id").alias("route_id"),
            F.first("to").alias("to"),
            F.first("itinerary_id").alias("itinerary_id"),
            F.first("seq").alias("seq"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("row_idx", "times"))),
                    lambda x: x.times,
                )
            ).alias("times"),
            F.min_by("stations", "row_idx").alias("stations"),
            F.min(F.col("row_idx") * 100000 + F.col("svc_pos")).alias("svc_order"),
        )
    )


# ---------------------------------------------------------------------------
# J7/W5: the alignment kernel (cogrouped applyInPandas)
# ---------------------------------------------------------------------------

_ALIGN_SCHEMA = T.StructType(
    [
        T.StructField("itinerary_osm_id", T.LongType()),
        T.StructField("service", T.StringType()),
        T.StructField("trip_seq", T.IntegerType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("stop_key", T.StringType()),
        T.StructField("time_secs", T.LongType()),  # null → interpolate
        T.StructField("timepoint", T.IntegerType()),
    ]
)


def _parse_time_secs(t: str) -> int | None:
    m = _TIME_RE.match(t or "")
    if not m:
        return None
    hh, mm = int(m.group(1)), int(m.group(2))
    if mm > 59:
        return None
    return hh * 3600 + mm * 60


def _align_group(stops_pdf: pd.DataFrame) -> pd.DataFrame:
    """One (itinerary, service) group: emit per-trip per-stop rows.

    Input rows = the itinerary's stops (pos, stop_key, name,
    parent_name) with the group-constant schedule arrays (stations,
    times) attached. Reproduces the monotone-cursor walk of
    trips_creator.py:195-265, including parent-station fallback,
    last-stop pinning and break-on-invalid-time truncation."""
    out: list[tuple] = []
    if stops_pdf.empty:
        return pd.DataFrame(columns=[f.name for f in _ALIGN_SCHEMA.fields])
    row = stops_pdf.iloc[0]
    itin = int(row.itinerary_osm_id)
    service = row.service
    stations = list(row.stations)
    time_rows = list(row.times)
    stops_pdf = stops_pdf.sort_values("pos")
    names = list(stops_pdf.name)
    parents = list(stops_pdf.parent_name)
    keys = list(stops_pdf.stop_key)
    poss = list(stops_pdf.pos)
    n_itin = len(keys)

    def find_from(name: str | None, start: int) -> int:
        if name is None:
            return -1
        try:
            return stations.index(name, start)
        except ValueError:
            return -1

    for trip_seq, times in enumerate(time_rows):
        times = list(times)
        search_idx = 0
        for i in range(n_itin):
            sidx = find_from(names[i], search_idx)
            if sidx == -1:
                sidx = find_from(parents[i], search_idx)
            # last-stop pinning (trips_creator.py:238-243)
            last_sched = sidx == len(stations) - 1
            last_itin = i == n_itin - 1
            if last_sched != last_itin:
                sidx = -1
            if sidx != -1 and sidx < len(times):
                secs = _parse_time_secs(times[sidx])
                if secs is None:
                    break  # invalid time → truncate trip (:248-253)
                search_idx = sidx + 1
                out.append((itin, service, trip_seq, int(poss[i]), keys[i], secs, 1))
            else:
                if i == 0:
                    break  # first stop must be timed (transitfeed raises)
                out.append((itin, service, trip_seq, int(poss[i]), keys[i], None, 0))
    return pd.DataFrame(out, columns=[f.name for f in _ALIGN_SCHEMA.fields])


def align_stops(
    itin_stops_named: DataFrame, per_service: DataFrame
) -> DataFrame:
    """Alignment kernel dispatch: itinerary stop rows × (itinerary,
    service) schedule rows → raw (possibly untimed) stop_time rows.

    ``itin_stops_named`` needs (itinerary_osm_id, pos, stop_key, name,
    parent_name). The schedule arrays are group-constant, so attaching
    them to each stop row keeps the kernel a plain grouped
    applyInPandas (group sizes bounded by stops/itinerary). No
    broadcast hint — per_service scales with the corpus; AQE
    broadcasts it when it fits."""
    joined = itin_stops_named.join(
        per_service.select("itinerary_osm_id", "service", "stations", "times"),
        "itinerary_osm_id",
    )
    return joined.groupBy("itinerary_osm_id", "service").applyInPandas(
        _align_group, _ALIGN_SCHEMA
    )


# ---------------------------------------------------------------------------
# Calendar synthesis (trips_creator.py:280-332)
# ---------------------------------------------------------------------------

def build_calendar(services: DataFrame, feed_start: str, feed_end: str) -> tuple[DataFrame, DataFrame]:
    """services(service string) → (calendar, calendar_dates).

    Keywords map to day-flag rows; YYYY-MM-DD services become a dated
    service (id = date sans dashes) with a type-1 exception."""
    spark = services.sparkSession
    rows_cal, rows_dates = [], []
    for r in sorted({x.service for x in services.select("service").distinct().collect()}):
        if r in SERVICE_DAY_FLAGS:
            f = SERVICE_DAY_FLAGS[r]
            rows_cal.append((r, *f, feed_start, feed_end))
        elif _DATE_RE.match(r):
            d = r.replace("-", "")
            rows_cal.append((d, 0, 0, 0, 0, 0, 0, 0, feed_start, feed_end))
            rows_dates.append((d, d, 1))
        else:
            raise KeyError(f"Unknown service keyword: {r}")
    cal = spark.createDataFrame(
        rows_cal,
        "service_id string, monday int, tuesday int, wednesday int, thursday int,"
        " friday int, saturday int, sunday int, start_date string, end_date string",
    )
    dates = spark.createDataFrame(
        rows_dates or [("__none__", "00000000", 1)],
        "service_id string, date string, exception_type int",
    )
    if not rows_dates:
        dates = dates.filter(F.col("service_id") != "__none__")
    return cal, dates


def service_id_col():
    """Keyword services keep their name; date services drop dashes."""
    return F.when(
        F.col("service").rlike(r"^[0-9]{4}-?[0-9]{2}-?[0-9]{2}$"),
        F.regexp_replace("service", "-", ""),
    ).otherwise(F.col("service"))
