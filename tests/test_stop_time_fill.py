"""The one W6 stop-time fill and the creators that set its timepoints,
on small hand-built frames.

``gtfs.interpolate_times_distance`` fills untimed stops by cumulative
great-circle distance between the surrounding timepoints. The pinned
city corpora time every stop, so these cases cover the branches they
miss: stops outside the timepoints, interior schedule timepoints, a
trip with one resolved stop, unresolved first or last members, and a
zero-length trip. Stops sit on the equator, so distances are in
proportion to the longitude steps and every expected time is exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from osm2gtfs_spark.plans import florianopolis, gtfs

# stop_key → (stop_id, lat, lon)
STOPS = {
    "node/1": ("A", 0.0, 0.0),
    "node/2": ("B", 0.0, 0.01),
    "node/3": ("C", 0.0, 0.03),
    # three stops at one point: a zero-length trip
    "node/4": ("D", 1.0, 1.0),
    "node/5": ("E", 1.0, 1.0),
    "node/6": ("F", 1.0, 1.0),
}
UNRESOLVED = "node/999"


def _stops(spark):
    return spark.createDataFrame(
        [(k, *v) for k, v in STOPS.items()],
        "stop_key string, stop_id string, lat double, lon double",
    )


def _itin_stops(spark, members: dict[int, list[str]]):
    return spark.createDataFrame(
        [(itin, pos, key) for itin, keys in members.items() for pos, key in enumerate(keys)],
        "itinerary_osm_id long, pos int, stop_key string",
    )


def _rows(df, key):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r[key], []).append(r)
    return out


def test_fill_schedule_timepoints(spark):
    """Schedule key, timepoints at pos 1, 3 and 5 of seven stops at
    lon 0, .01, .02, .04, .05, .06, .07: interior stops split each span
    by distance, stops outside the first and last timepoint stay NULL,
    and each (itinerary, service, trip) is filled on its own."""
    lons = [0.0, 0.01, 0.02, 0.04, 0.05, 0.06, 0.07]
    times = {0: [None, 3600, None, 4200, None, 5100, None], 1: [None, 7200, None, 7800, None, 9000, None]}
    rows = spark.createDataFrame(
        [
            (1, "Mo-Fr", trip_seq, pos, 0.0, lon, t[pos])
            for trip_seq, t in times.items()
            for pos, lon in enumerate(lons)
        ],
        "itinerary_osm_id long, service string, trip_seq int, pos int, lat double, lon double,"
        " time_secs long",
    )
    got = {
        (r.trip_seq, r.pos): r.time_secs_filled
        for r in gtfs.interpolate_times_distance(
            rows, ["itinerary_osm_id", "service", "trip_seq"]
        ).collect()
    }
    assert [got[0, p] for p in range(7)] == [None, 3600, 3800, 4200, 4650, 5100, None]
    assert [got[1, p] for p in range(7)] == [None, 7200, 7400, 7800, 8400, 9000, None]


def test_fill_zero_length_span_takes_the_earlier_time(spark):
    rows = spark.createDataFrame(
        [("t", 0, 1.0, 1.0, 100), ("t", 1, 1.0, 1.0, None), ("t", 2, 1.0, 1.0, 500)],
        "trip_id string, pos int, lat double, lon double, time_secs long",
    )
    filled = gtfs.interpolate_times_distance(rows, ["trip_id"]).orderBy("pos")
    assert [r.time_secs_filled for r in filled.collect()] == [100, 100, 500]


def test_frequency_creators_stop_times(spark):
    """The docs frequency pipeline, Accra and Abidjan
    (``gtfs.interpolated_stop_times``): the first
    and last RESOLVED stops are the timepoints, 06:00:00 and 06:00 +
    travel time; stop_sequence is the raw member position + 1; a trip
    with one resolved stop writes no rows."""
    members = {
        10: [UNRESOLVED, "node/1", "node/2", "node/3"],  # first raw member unresolved
        11: ["node/1", UNRESOLVED],  # one resolved stop
        12: ["node/4", "node/5", "node/6"],  # zero length
        13: ["node/1", "node/2", UNRESOLVED],  # last raw member unresolved
    }
    trips = spark.createDataFrame(
        [(str(i), itin, 30) for i, itin in enumerate(members)],
        "trip_id string, itinerary_osm_id long, travel_min int",
    )
    st = gtfs.interpolated_stop_times(trips, _itin_stops(spark, members), _stops(spark), "travel_min")
    got = {
        trip: sorted((r.stop_sequence, r.stop_id, r.arrival_time, r.departure_time) for r in rs)
        for trip, rs in _rows(st, "trip_id").items()
    }
    assert got == {
        "0": [
            ("2", "A", "06:00:00", "06:00:00"),
            ("3", "B", "06:10:00", "06:10:00"),
            ("4", "C", "06:30:00", "06:30:00"),
        ],
        "2": [
            ("1", "D", "06:00:00", "06:00:00"),
            ("2", "E", "06:00:00", "06:00:00"),
            ("3", "F", "06:30:00", "06:30:00"),
        ],
        "3": [("1", "A", "06:00:00", "06:00:00"), ("2", "B", "06:30:00", "06:30:00")],
    }


def test_florianopolis_stop_times(spark):
    """Florianópolis: raw pos 0 is timed at the departure and the last
    raw member at ``end_secs``, each only when it resolves; a stop past
    a missing timepoint is written as ''; stop_sequence counts the
    resolved stops."""
    members = {
        20: ["node/1", "node/2", "node/3"],
        21: [UNRESOLVED, "node/1", "node/2", "node/3"],  # no departure timepoint
        22: ["node/1", "node/2", "node/3", UNRESOLVED],  # no arrival timepoint
        23: ["node/4", "node/5", "node/6"],  # zero length
    }
    trips = spark.createDataFrame(
        [(str(i), itin, 8 * 3600, 8 * 3600 + 1800) for i, itin in enumerate(members)],
        "trip_id string, itinerary_osm_id long, dep_secs int, end_secs int",
    )
    st = florianopolis._stop_times(trips, _itin_stops(spark, members), _stops(spark))
    got = {
        trip: sorted((r.stop_sequence, r.stop_id, r.arrival_time) for r in rs)
        for trip, rs in _rows(st, "trip_id").items()
    }
    assert st.filter(F.col("arrival_time") != F.col("departure_time")).count() == 0
    assert got == {
        "0": [("1", "A", "08:00:00"), ("2", "B", "08:10:00"), ("3", "C", "08:30:00")],
        "1": [("1", "A", ""), ("2", "B", ""), ("3", "C", "08:30:00")],
        "2": [("1", "A", "08:00:00"), ("2", "B", ""), ("3", "C", "")],
        "3": [("1", "D", "08:00:00"), ("2", "E", "08:00:00"), ("3", "F", "08:30:00")],
    }
