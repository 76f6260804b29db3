"""The GTFS pipeline: decoded OSM entity tables → GTFS output tables.

Each stage is a pure DataFrame→DataFrame function mirroring one stage
of the reference pipeline (``osm2gtfs/osm2gtfs.py:78-93`` execution
order: stops → routes → trips → prune → validate → write), with the
reference's row-at-a-time semantics recast as joins/windows:

- build_stops      — P3/P6/P7/P11 + A1 (way centroids)
- build_stations   — J3 (stop_area membership, ≥2-member rule)
- build_lines      — P2/J1/J2/P8/P10 (master↔variant full outer)
- itinerary_stops  — P4 (platform-role members, order preserved)
- build_shapes     — J6 + O1 (two-hop geometry join + stitch kernel)
- build_trips      — frequency trips (gh_accra/trips_creator_gh_accra.py),
                     shared by the docs frequency pipeline and Accra
- prune_unused     — P15/P16 anti joins

Scale shape: all joins are equi joins on entity ids; the dimension
sides (lines, itineraries) are tiny relative to nodes and are
broadcast; the only applyInPandas is the shape stitcher, whose groups
are bounded (ways per itinerary ≤ hundreds).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from osm2gtfs_spark.operators.indexing import SMALL_INDEX_THRESHOLD, global_index
from osm2gtfs_spark.operators.spatial import argmin_struct, ring_candidates
from osm2gtfs_spark.functions.geo import (
    cell_id,
    centroid_lat,
    centroid_lon,
    haversine_m,
    spherical_centroid_aggs,
)

DEFAULT_ROUTE_FREQUENCY = 30  # minutes (gh_accra/trips_creator_gh_accra.py:56)
DEFAULT_TRAVEL_TIME = 120  # minutes (gh_accra/trips_creator_gh_accra.py:57)
FREQ_START, FREQ_END = "05:00:00", "22:00:00"
FIRST_DEPARTURE_SECS = 6 * 3600  # datetime(2008,11,22,6,0,0) in the reference

def route_type_case():
    """GTFS route_type mapping (reference osm2gtfs/core/elements.py:55-83)."""
    return (
        F.when(F.col("route_kind").isin("tram", "light_rail"), "Tram")
        .when(F.col("route_kind") == "subway", "Subway")
        .when(F.col("route_kind") == "train", "Rail")
        .when(F.col("route_kind").isin("bus", "trolleybus"), "Bus")
        .when(F.col("route_kind") == "ferry", "Ferry")
        .otherwise("Bus")
    )


def route_type_code():
    """GTFS route_type code of the ``route_type`` name column."""
    return (
        F.when(F.col("route_type") == "Tram", "0")
        .when(F.col("route_type") == "Subway", "1")
        .when(F.col("route_type") == "Rail", "2")
        .when(F.col("route_type") == "Ferry", "4")
        .otherwise("3")
    )


def tag(key: str):
    return F.try_element_at("tags", F.lit(key))


def positive_int_tag(tags: str, key: str, default: int):
    """``tags[key]`` as an int when it parses to a positive one, else
    ``default`` (the creators' invalid-tag fallback)."""
    v = F.try_element_at(tags, F.lit(key)).cast("int")
    return F.coalesce(F.when(v > 0, v), F.lit(default))


# ---------------------------------------------------------------------------
# Stops (reference osm_connector.py:253-283,430-464; stops_creator.py:105-124)
# ---------------------------------------------------------------------------

def valid_stop_pred():
    """P3 (osm_connector.py:677-694)."""
    return (
        tag("public_transport").isin("platform", "station")
        | (tag("highway") == "bus_stop")
        | (tag("amenity") == "bus_station")
    )


def build_stops(nodes: DataFrame, ways: DataFrame, name_without: str = "stop") -> DataFrame:
    """stops(stop_key, osm_type, osm_id, stop_id, name, lat, lon).

    Node stops use their own coordinates; way stops get the spherical
    centroid of their member nodes (A1, helper.py:28-54). Missing names
    become "[<name_without>]" (P6, osm_connector.py:440-441); stop_id
    precedence is ref:gtfs → ref → osm_type/osm_id (P11,
    stops_creator.py:105-124).
    """
    node_stops = nodes.filter(valid_stop_pred()).select(
        F.lit("node").alias("osm_type"),
        F.col("id").alias("osm_id"),
        "lat",
        "lon",
        "tags",
    )
    way_candidates = ways.filter(valid_stop_pred())
    way_pts = (
        way_candidates.select("id", "tags", F.posexplode("node_refs").alias("pos", "nref"))
        .join(nodes.select(F.col("id").alias("nref"), "lat", "lon"), "nref")
    )
    cents = spherical_centroid_aggs("lat", "lon", "pos")
    way_stops = (
        way_pts.groupBy("id")
        .agg(F.first("tags").alias("tags"), *cents.values())
        .select(
            F.lit("way").alias("osm_type"),
            F.col("id").alias("osm_id"),
            centroid_lat("cx", "cy", "cz").alias("lat"),
            centroid_lon("cx", "cy").alias("lon"),
            "tags",
        )
    )
    all_stops = node_stops.unionByName(way_stops)
    return all_stops.select(
        F.concat("osm_type", F.lit("/"), F.col("osm_id").cast("string")).alias("stop_key"),
        "osm_type",
        "osm_id",
        F.coalesce(
            tag("ref:gtfs"),
            tag("ref"),
            F.concat("osm_type", F.lit("/"), F.col("osm_id").cast("string")),
        ).alias("stop_id"),
        F.coalesce(tag("name"), F.lit(f"[{name_without}]")).alias("name"),
        "lat",
        "lon",
        "tags",
    )


def build_stations(relations: DataFrame, stops: DataFrame) -> tuple[DataFrame, DataFrame]:
    """J3: stop_area relations → stations + member→parent mapping.

    Areas resolve members against known stops (broadcast join — stations
    are always ≪ stops); areas with <2 resolved members are dropped
    (osm_connector.py:519-530). Station location = spherical centroid of
    members. Returns (stations, parent_map(stop_key → parent_station)).
    """
    # reference rule (_build_station, osm_connector.py:466-530): the
    # relation must carry public_transport=stop_area, must NOT carry a
    # 'route' tag, and only members with role == 'platform' that resolve
    # against known stops count; ≥2 DISTINCT resolved members required
    areas = relations.filter(
        (tag("public_transport") == "stop_area") & tag("route").isNull()
    )
    memb = (
        areas.select(
            F.col("id").alias("area_id"),
            tag("name").alias("area_name"),
            F.posexplode(F.filter("members", lambda m: m.role == F.lit("platform"))).alias("pos", "m"),
        )
        .select(
            "area_id",
            "area_name",
            "pos",
            F.concat("m.mtype", F.lit("/"), F.col("m.ref").cast("string")).alias("stop_key"),
        )
        # a member listed twice counts once, at its first position
        .groupBy("area_id", "area_name", "stop_key")
        .agg(F.min("pos").alias("pos"))
    )
    resolved = memb.join(stops.select("stop_key", "lat", "lon"), "stop_key")
    cents = spherical_centroid_aggs("lat", "lon", "pos")
    stations = (
        resolved.groupBy("area_id")
        .agg(F.first("area_name").alias("name"), F.count(F.lit(1)).alias("n_members"), *cents.values())
        .filter(F.col("n_members") >= 2)
        .select(
            F.concat(F.lit("relation/"), F.col("area_id").cast("string")).alias("station_key"),
            F.col("area_id").alias("osm_id"),
            F.coalesce("name", F.lit("[station]")).alias("name"),
            centroid_lat("cx", "cy", "cz").alias("lat"),
            centroid_lon("cx", "cy").alias("lon"),
        )
    )
    parent_map = (
        resolved.join(stations.select("osm_id").withColumnRenamed("osm_id", "area_id"), "area_id")
        .select("stop_key", F.concat(F.lit("relation/"), F.col("area_id").cast("string")).alias("parent_station"))
        .dropDuplicates(["stop_key"])
    )
    return stations, parent_map


# ---------------------------------------------------------------------------
# Lines / itineraries (osm_connector.py:124-204,294-428)
# ---------------------------------------------------------------------------

def build_lines(relations: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P2+J1+J2: split masters/variants, resolve membership, dedup refs.

    Returns (lines, itineraries):
    - lines(line_id, route_id, name, route_type, colour, tags) — one per
      route_master, plus one per masterless variant (osm_connector.py:184-204)
    - itineraries(itinerary_id, line_id, route_id, fr, via, to, seq) —
      ordered within line by master-member position (matched) or self (masterless)
    """
    routes = relations.filter(tag("type").isin("route", "route_master"))
    masters = routes.filter(tag("type") == "route_master").select(
        F.col("id").alias("master_id"),
        tag("ref").alias("m_ref"),
        tag("name").alias("m_name"),
        tag("route_master").alias("m_kind"),
        tag("colour").alias("m_colour"),
        F.col("tags").alias("m_tags"),
        F.posexplode(
            F.filter("members", lambda m: m.mtype == F.lit("relation"))
        ).alias("member_pos", "m"),
    ).select("master_id", "m_ref", "m_name", "m_kind", "m_colour", "m_tags", "member_pos", F.col("m.ref").alias("variant_id"))
    variants = routes.filter(tag("type") == "route").select(
        F.col("id").alias("variant_id"),
        tag("ref").alias("v_ref"),
        tag("name").alias("v_name"),
        tag("route").alias("v_kind"),
        tag("from").alias("fr"),
        tag("via").alias("via"),
        tag("to").alias("to"),
        F.col("tags").alias("v_tags"),
    )
    # J1 semantics as inner + anti join (optimization r6, guide §3.1):
    # the full-outer formulation forces a sort-merge join (no broadcast
    # support for full outer) and a both-sides exchange; splitting into
    # matched = inner ∧ v_ref present, masterless = variants with no
    # master reference, is row-identical (the full-outer residuals with
    # master_id NOT NULL ∧ v_ref NULL were dropped by both branches) and
    # lets the planner broadcast the dimension-scale master side, which
    # removes the exchange of the variant side entirely.
    matched = masters.join(variants, "variant_id").filter(F.col("v_ref").isNotNull())
    # downstream consumes only variant-side columns from masterless rows
    masterless = variants.join(masters.select("variant_id"), "variant_id", "left_anti")
    # one line per master (dedup ref: lowest master_id wins — J2 first-wins)
    line_rows = (
        matched.select(
            F.col("master_id").alias("line_osm_id"),
            F.coalesce("m_ref", "v_ref").alias("route_id"),
            F.col("m_name").alias("name"),
            F.col("m_kind").alias("route_kind"),
            F.col("m_colour").alias("colour"),
            F.col("m_tags").alias("tags"),
        )
        .dropDuplicates(["line_osm_id"])
        .unionByName(
            masterless.select(
                F.col("variant_id").alias("line_osm_id"),
                F.col("v_ref").alias("route_id"),
                F.col("v_name").alias("name"),
                F.col("v_kind").alias("route_kind"),
                F.lit(None).cast("string").alias("colour"),
                F.col("v_tags").alias("tags"),
            )
        )
    )
    ref_guard = Window.partitionBy("route_id").orderBy(F.col("line_osm_id").asc())
    lines = (
        line_rows.filter(F.col("route_id").isNotNull())
        .withColumn("_rn", F.row_number().over(ref_guard))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("route_type", route_type_case())
        .withColumn("line_id", F.concat(F.lit("relation/"), F.col("line_osm_id").cast("string")))
    )
    itins = (
        matched.select(
            F.col("variant_id").alias("itinerary_osm_id"),
            F.col("master_id").alias("line_osm_id"),
            F.coalesce("v_ref", "m_ref").alias("route_id"),
            "fr",
            "via",
            "to",
            F.col("member_pos").alias("seq"),
            F.col("v_tags").alias("tags"),
        )
        .unionByName(
            masterless.select(
                F.col("variant_id").alias("itinerary_osm_id"),
                F.col("variant_id").alias("line_osm_id"),
                F.col("v_ref").alias("route_id"),
                "fr",
                "via",
                "to",
                F.lit(0).alias("seq"),
                F.col("v_tags").alias("tags"),
            )
        )
        # keep only itineraries whose line survived the ref guard
        # (broadcast: lines is a bounded dimension — one row per transit
        # line — the same judgement build_trips already applies)
        .join(F.broadcast(lines.select("line_osm_id")), "line_osm_id")
        .withColumn("itinerary_id", F.concat(F.lit("relation/"), F.col("itinerary_osm_id").cast("string")))
    )
    return lines, itins


def itinerary_stops(relations: DataFrame) -> DataFrame:
    """P4: ordered platform members per route relation.

    (itinerary_osm_id, pos, stop_key) — pos from posexplode preserves the
    relation's member order exactly (osm_connector.py:391-404)."""
    return (
        relations.filter(tag("type") == "route")
        .select(
            F.col("id").alias("itinerary_osm_id"),
            F.posexplode(
                # EXACT equality: platform_entry_only / platform_exit_only
                # members are NOT itinerary stops (osm_connector.py:392)
                F.filter("members", lambda m: m.role == F.lit("platform"))
            ).alias("pos", "m"),
        )
        .select(
            "itinerary_osm_id",
            "pos",
            F.concat("m.mtype", F.lit("/"), F.col("m.ref").cast("string")).alias("stop_key"),
        )
    )


# ---------------------------------------------------------------------------
# Shapes (osm_connector.py:620-675 — two-hop join J6 + stitch kernel O1)
# ---------------------------------------------------------------------------

def _stitch_fold(ways_arr):
    """O1 as a pure-Catalyst fold — no Python worker.

    ``ways_arr`` is the ordered array of per-way node-id arrays; the
    fold reproduces osm_connector.py:648-670 exactly: junctions matched
    by node id; a head-side match REVERSES the accumulated chain and
    appends; first mismatch sets ``broken`` and freezes the chain
    (truncation). Runs entirely in whole-stage codegen — replaces the
    applyInPandas kernel (same semantics, golden-verified) at ~0 task
    overhead."""
    sz = F.size
    empty = F.array().cast("array<bigint>")

    def merge(st, ids):
        chain = st.chain
        body = F.slice(chain, 2, sz(chain) - 1)  # chain[1:]
        init = F.slice(chain, 1, sz(chain) - 1)  # chain[:-1]
        tail, head = F.element_at(chain, -1), F.element_at(chain, 1)
        i0, iN = F.element_at(ids, 1), F.element_at(ids, -1)
        new_chain = (
            F.when(sz(chain) == 0, ids)
            .when(tail == i0, F.concat(init, ids))
            .when(tail == iN, F.concat(init, F.reverse(ids)))
            .when(head == i0, F.concat(F.reverse(body), ids))
            .when(head == iN, F.concat(F.reverse(body), F.reverse(ids)))
            .otherwise(chain)
        )
        now_broken = st.broken | (
            (sz(chain) > 0) & (tail != i0) & (tail != iN) & (head != i0) & (head != iN)
        )
        return F.struct(
            F.when(st.broken, chain).otherwise(new_chain).alias("chain"),
            now_broken.alias("broken"),
        )

    return F.aggregate(
        ways_arr,
        F.struct(empty.alias("chain"), F.lit(False).alias("broken")),
        merge,
    )["chain"]


def build_shapes(relations: DataFrame, ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """J6+O1: itinerary member ways → way points → stitched polyline.

    Geometry members are ways whose role does not start with 'platform'
    (P5, osm_connector.py:630-633). The two hops are shuffle equi joins
    with order keys carried; the stitch is a built-in array fold
    (:func:`_stitch_fold`), then one join back to nodes for coords —
    the whole operator stays JVM-side (no pandas workers)."""
    member_ways = (
        relations.filter(tag("type") == "route")
        .select(
            F.col("id").alias("itinerary_osm_id"),
            F.posexplode(
                F.filter(
                    "members",
                    lambda m: (m.mtype == F.lit("way")) & ~m.role.startswith("platform"),
                )
            ).alias("way_pos", "m"),
        )
        .select("itinerary_osm_id", "way_pos", F.col("m.ref").alias("way_id"))
    )
    way_pts = (
        ways.select(F.col("id").alias("way_id"), F.posexplode("node_refs").alias("nref_pos", "nref"))
        .join(nodes.select(F.col("id").alias("nref"), "lat", "lon"), "nref")
        .groupBy("way_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("nref_pos", "nref", "lat", "lon"))
            ).alias("pts")
        )
        .select("way_id", F.transform("pts", lambda p: p.nref).alias("pts_nid"))
    )
    joined = member_ways.join(way_pts.select("way_id", "pts_nid"), "way_id")
    chains = (
        joined.groupBy("itinerary_osm_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("way_pos", "pts_nid"))).alias("w")
        )
        .select(
            "itinerary_osm_id",
            _stitch_fold(F.transform("w", lambda x: x.pts_nid)).alias("chain"),
        )
    )
    return (
        chains.select(
            "itinerary_osm_id", F.posexplode("chain").alias("shape_pt_sequence", "nref")
        )
        .join(nodes.select(F.col("id").alias("nref"), "lat", "lon"), "nref")
        .select(
            "itinerary_osm_id",
            F.col("shape_pt_sequence").cast("int").alias("shape_pt_sequence"),
            F.col("lat").alias("shape_pt_lat"),
            F.col("lon").alias("shape_pt_lon"),
        )
    )


# ---------------------------------------------------------------------------
# Trips — Accra frequency path (gh_accra/trips_creator_gh_accra.py:13-110)
# ---------------------------------------------------------------------------

def secs_to_gtfs(col):
    """Seconds-since-midnight → 'HH:MM:SS'; hours may exceed 24 (GTFS).
    NULL gives '' (``concat_ws`` skips nulls): an untimed stop's empty
    time."""
    h = F.floor(col / 3600)
    m = F.floor((col % 3600) / 60)
    s = col % 60
    return F.concat_ws(
        ":",
        F.lpad(h.cast("string"), 2, "0"),
        F.lpad(m.cast("string"), 2, "0"),
        F.lpad(s.cast("string"), 2, "0"),
    )


def interpolate_times_distance(rows: DataFrame, key: list[str]) -> DataFrame:
    """W6, transitfeed-exact: add ``time_secs_filled``, the untimed
    stops filled by DISTANCE-weighted linear interpolation between the
    surrounding timepoints. The one stop-time fill of every creator.

    ``rows`` carry the trip key ``key``, ``pos`` (stop order), ``lat``,
    ``lon`` and ``time_secs``, set only at timepoints. transitfeed's
    ``GetTimeInterpolatedStops`` (``Helper.interpolate_stop_times``,
    helper.py:56-68) splits the time between two timepoints in
    proportion to the cumulative great-circle distance (radius
    6367000 m) along the trip's stops, rounded to whole seconds —
    verified bit-exact against the reference's golden feeds. A stop
    before the first or after the last timepoint stays NULL; a stop
    between two timepoints at the same distance (a zero-length span)
    gets the earlier one's time. Pure window expressions, no UDF."""
    from osm2gtfs_spark.functions.geo import TRANSITFEED_RADIUS_M

    w_seq = Window.partitionBy(*key).orderBy("pos")
    w_back = w_seq.rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = w_seq.rowsBetween(0, Window.unboundedFollowing)
    prev_lat, prev_lon = F.lag("lat").over(w_seq), F.lag("lon").over(w_seq)
    leg = F.when(prev_lat.isNull(), F.lit(0.0)).otherwise(
        haversine_m(prev_lat, prev_lon, "lat", "lon", radius=TRANSITFEED_RADIUS_M)
    )
    df = rows.withColumn("_leg", leg).withColumn("_cum", F.sum("_leg").over(w_back))
    timed_cum = F.when(F.col("time_secs").isNotNull(), F.col("_cum"))
    df = (
        df.withColumn("prev_t", F.last("time_secs", ignorenulls=True).over(w_back))
        .withColumn("prev_c", F.last(timed_cum, ignorenulls=True).over(w_back))
        .withColumn("next_t", F.first("time_secs", ignorenulls=True).over(w_fwd))
        .withColumn("next_c", F.first(timed_cum, ignorenulls=True).over(w_fwd))
    )
    interp = F.round(
        F.col("prev_t")
        + (F.col("next_t") - F.col("prev_t"))
        * (F.col("_cum") - F.col("prev_c"))
        / (F.col("next_c") - F.col("prev_c")),
        0,
    ).cast("long")
    return df.withColumn(
        "time_secs_filled",
        F.when(F.col("time_secs").isNotNull(), F.col("time_secs"))
        .when(F.col("prev_t").isNull() | F.col("next_t").isNull(), F.lit(None))
        .when(F.col("next_c") == F.col("prev_c"), F.col("prev_t"))
        .otherwise(interp),
    ).drop("prev_t", "prev_c", "next_t", "next_c", "_leg", "_cum")


def build_trips(lines: DataFrame, itineraries: DataFrame) -> DataFrame:
    """Frequency trips, one per itinerary, with frequency/travel columns:
    the docs frequency pipeline's and Accra's trips.

    Semantics (gh_accra/trips_creator_gh_accra.py:40-110):
    - direction_id alternates over the line's itineraries (W3)
    - headsign = 'to' tag; frequency from line tags, invalid → 30 min
    - travel_time from itinerary tags, invalid → 120 min
    - trip_id is transitfeed's auto-increment from 0 in (route_id,
      itinerary seq) order (O5)

    Pass materialized inputs (the pipelines pass stored stages): the
    ``SMALL_INDEX_THRESHOLD`` check counts the itinerary join. Store the
    result too: frequencies, stop_times and both prune passes read it.
    """
    # direction window partitions by route_id (1:1 with line after the J2
    # duplicate-ref guard) so it shares the global_index window's hash
    # partitioning — one exchange feeds both windows
    itin_order = Window.partitionBy("route_id").orderBy("seq", "itinerary_osm_id")
    line_dim = F.broadcast(
        lines.select("line_osm_id", "route_id", "route_type", F.col("tags").alias("line_tags"))
    )
    trips = (
        global_index(
            itineraries.drop("route_id").join(line_dim, "line_osm_id"),
            ["route_id", "seq", "itinerary_osm_id"],
            "_trip_idx",
            start=0,
            small_threshold=SMALL_INDEX_THRESHOLD,
        )
        .withColumn("direction_id", (F.row_number().over(itin_order) - 1) % 2)
        .withColumn("trip_id", F.col("_trip_idx").cast("string"))
        .drop("_trip_idx")
        .withColumn("frequency_min", positive_int_tag("line_tags", "frequency", DEFAULT_ROUTE_FREQUENCY))
        .withColumn("travel_min", positive_int_tag("tags", "travel_time", DEFAULT_TRAVEL_TIME))
        .select(
            "trip_id",
            F.col("route_id"),
            F.lit("always").alias("service_id"),
            F.col("itinerary_id").alias("shape_id"),
            "direction_id",
            F.col("to").alias("trip_headsign"),
            "line_osm_id",
            "itinerary_osm_id",
            "fr",
            "frequency_min",
            "travel_min",
        )
    )
    return trips


def build_frequencies(trips: DataFrame) -> DataFrame:
    """frequencies rows 05:00-22:00, headway = frequency*60 s, and the
    exact_times=0 transitfeed's AddFrequency writes."""
    return trips.select(
        "trip_id",
        F.lit(FREQ_START).alias("start_time"),
        F.lit(FREQ_END).alias("end_time"),
        (F.col("frequency_min") * 60).alias("headway_secs"),
        F.lit(0).alias("exact_times"),
    )


def interpolated_stop_times(
    trips: DataFrame, itin_stops: DataFrame, stops: DataFrame, travel_min: str
) -> DataFrame:
    """stop_times.txt rows of the frequency city creators: the first
    resolved stop at 06:00:00, the last at 06:00 + ``travel_min``
    minutes, interior stops by :func:`interpolate_times_distance`
    (gh_accra/trips_creator_gh_accra.py:88-110, ci_abidjan :178-221).
    A member that is not a stop writes no row, and stop_sequence keeps
    the raw member position + 1; trips with fewer than two resolved
    stops get none. Rows carry the stop's ``stop_key`` for the P15
    prune (:func:`prune_unused_stops`); callers drop it from
    stop_times.txt."""
    by_trip = Window.partitionBy("trip_id")
    st = (
        trips.select("trip_id", "itinerary_osm_id", travel_min)
        .join(itin_stops, "itinerary_osm_id")
        .join(stops.select("stop_key", "stop_id", "lat", "lon"), "stop_key")
        .withColumn("n", F.count(F.lit(1)).over(by_trip))
        .filter(F.col("n") >= 2)
    )
    first = F.lit(FIRST_DEPARTURE_SECS).cast("long")
    timepoints = F.when(F.col("pos") == F.min("pos").over(by_trip), first).when(
        F.col("pos") == F.max("pos").over(by_trip), first + F.col(travel_min) * 60
    )
    filled = interpolate_times_distance(st.withColumn("time_secs", timepoints), ["trip_id"])
    return filled.select(
        "trip_id",
        secs_to_gtfs(F.col("time_secs_filled")).alias("arrival_time"),
        secs_to_gtfs(F.col("time_secs_filled")).alias("departure_time"),
        "stop_id",
        (F.col("pos") + 1).cast("string").alias("stop_sequence"),
        "stop_key",
    )


def last_fr_to_long_names(itineraries: DataFrame) -> DataFrame:
    """(line_osm_id, route_long_name = "fr ↔ to") of each line's LAST
    itinerary, in member order, that carries both tags."""
    w_last = Window.partitionBy("line_osm_id").orderBy(F.col("seq").desc(), F.col("itinerary_osm_id").desc())
    return (
        itineraries.filter(F.col("fr").isNotNull() & F.col("to").isNotNull())
        .withColumn("_rn", F.row_number().over(w_last))
        .filter("_rn = 1")
        .select("line_osm_id", F.concat("fr", F.lit(" ↔ "), "to").alias("route_long_name"))
    )


def stops_txt(stops: DataFrame, stop_id, location_type: str, parent_station) -> DataFrame:
    """stops.txt rows in transitfeed's dialect: Python-2 float strings."""
    return stops.select(
        py2_float_str("lon").alias("stop_lon"),
        F.col("name").alias("stop_name"),
        py2_float_str("lat").alias("stop_lat"),
        stop_id.alias("stop_id"),
        F.lit(location_type).alias("location_type"),
        parent_station.alias("parent_station"),
    )


def shapes_txt(shapes: DataFrame, shape_id) -> DataFrame:
    """shapes.txt rows in transitfeed's dialect: Python-2 float strings
    and 1-based point sequences."""
    return shapes.select(
        shape_id.alias("shape_id"),
        py2_float_str("shape_pt_lat").alias("shape_pt_lat"),
        py2_float_str("shape_pt_lon").alias("shape_pt_lon"),
        (F.col("shape_pt_sequence") + 1).cast("string").alias("shape_pt_sequence"),
    )


# ---------------------------------------------------------------------------
# Pruning (stops_creator.py:45-61, routes_creator.py:42-58)
# ---------------------------------------------------------------------------

def prune_unused_stops(stops: DataFrame, stop_times: DataFrame) -> DataFrame:
    """P15: left semi join on ``stop_key`` — drop stops that no trip
    visits. Not on ``stop_id``: two stops may share a ``ref`` (P11)."""
    used = stop_times.select("stop_key").distinct()
    return stops.join(used, "stop_key", "left_semi")


def prune_unused_routes(lines: DataFrame, trips: DataFrame) -> DataFrame:
    """P16: left anti join — drop routes with zero trips."""
    used = trips.select("route_id").distinct()
    return lines.join(used, "route_id", "left_semi")


@pandas_udf(T.StringType())
def py2_float_str(v: pd.Series) -> pd.Series:
    """Python-2 ``str(float)`` (12 significant digits, no sci notation
    for the coordinate ranges in play) — the dialect transitfeed wrote
    into the golden zips. Spark's ``cast('string')`` uses Java
    ``Double.toString`` which switches to scientific notation below
    1e-3 ('-2.186E-4' vs '-0.0002186'), and a JVM round-then-cast loses
    the last %.12g digit on non-representable decimals — so the %g
    formatting itself is irreducible; numpy's C-loop ``char.mod``
    replaces the per-element Python lambda (~12% faster, measured at
    10⁶ rows)."""
    import numpy as np

    arr = v.to_numpy(dtype=np.float64)
    out = pd.Series(np.char.mod("%.12g", arr), index=v.index, dtype=object)
    out[np.isnan(arr)] = None
    return out


def auto_stop_names(
    stops: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    name_without: str,
    radius_m: float = 50.0,
    res: int = 18,
    k_ring: int = 2,
) -> DataFrame:
    """name_auto: guess names for unnamed stops from surroundings (J9).

    Reference ``_get_names_for_unnamed_stops`` /
    ``_find_best_name_for_unnamed_stop`` (osm_connector.py:696-785): one
    Overpass 50 m radius query PER STOP for named ways (excluding
    trunk/primary/secondary highways and bus_station amenities) and
    named nodes (excluding bus_stops), then argmin by
    ApproximateDistance; no candidate → the bare ``name_without`` (no
    brackets), so the stop isn't re-queried next run.

    Here: ONE batched :func:`~osm2gtfs_spark.operators.spatial.
    ring_candidates` join over the whole corpus instead of a network
    round-trip per stop. res=18 cells are ~76 m tall, so k_ring=2
    over-covers the 50 m radius for |lat| < 80° — the ring is a
    candidate SUPERSET and the radius filter below makes the result
    exactly the per-stop brute force; the nearest in meters wins.
    """
    placeholder = f"[{name_without}]"
    unnamed = stops.filter(F.col("name") == placeholder)

    node_cand = nodes.filter(
        tag("name").isNotNull() & ~(F.coalesce(tag("highway"), F.lit("")) == "bus_stop")
    ).select(tag("name").alias("cand_name"), "lat", "lon")
    way_named = ways.filter(
        tag("name").isNotNull()
        & ~F.coalesce(tag("highway"), F.lit("")).isin("trunk", "primary", "secondary")
        & ~(F.coalesce(tag("amenity"), F.lit("")) == "bus_station")
    )
    way_pts = way_named.select(
        "id", tag("name").alias("cand_name"), F.posexplode("node_refs").alias("pos", "nref")
    ).join(nodes.select(F.col("id").alias("nref"), "lat", "lon"), "nref")
    cents = spherical_centroid_aggs("lat", "lon", "pos")
    way_cand = (
        way_pts.groupBy("id")
        .agg(F.first("cand_name").alias("cand_name"), *cents.values())
        .select(
            "cand_name",
            centroid_lat("cx", "cy", "cz").alias("lat"),
            centroid_lon("cx", "cy").alias("lon"),
        )
    )
    cand = node_cand.unionByName(way_cand).select(
        "cand_name",
        F.col("lat").alias("_c_lat"),
        F.col("lon").alias("_c_lon"),
        cell_id("lat", "lon", res).alias("_cell"),
    )
    probe = unnamed.select("stop_key", "lat", "lon")
    meters = haversine_m("lat", "lon", "_c_lat", "_c_lon")
    near = ring_candidates(probe, cand, res, k_ring).filter(meters <= F.lit(radius_m))
    best = argmin_struct(near, "stop_key", [meters.alias("d"), F.col("cand_name")]).select(
        "stop_key", F.col("cand_name").alias("guessed_name")
    )
    # no broadcast hint: the unnamed set can be large at corpus scale —
    # AQE picks broadcast when it actually fits
    return stops.join(best, "stop_key", "left").withColumn(
        "name",
        F.when(F.col("name") != placeholder, F.col("name"))
        .when(F.col("guessed_name").isNotNull(), F.col("guessed_name"))
        .otherwise(F.lit(name_without)),
    ).drop("guessed_name")
