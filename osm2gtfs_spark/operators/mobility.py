"""Mobility analytics over traces and arrival events — the query-side
consumers of the tiling + trace operators (OD flows, service headways,
space-time matching).

Reference analog: none directly — the reference emits GTFS; these are
the analyses a transit agency runs OVER the emitted network and its
observed traces (SURVEY.md §2 extension family, same status as the
LLM-pipeline block).

Scale notes: everything here is per-key windows and two-phase
aggregates — no cross joins, no global windows, skew bounded by the
hottest trace / (route, stop) pair; OD cells aggregate with map-side
combining so the shuffle carries (cell-pair, partial count) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm2gtfs_spark.functions.geo import cell_id
from osm2gtfs_spark.session import materialize


def od_matrix(
    traces: DataFrame,
    res: int,
    trace_col: str = "trace_id",
    seq_col: str = "obs_seq",
) -> DataFrame:
    """(o_cell, d_cell, n_trips): origin-destination flow matrix — each
    trace contributes one trip from its first observation's cell to its
    last observation's cell at resolution ``res``.

    Endpoint election is a single min/max-struct aggregate per trace
    (map-side combined, one shuffle), the flow count a second grouped
    count — no windows over the full point stream, so a billion-point
    trace table costs two combine-friendly aggregations."""
    ends = traces.groupBy(trace_col).agg(
        F.min(
            F.struct(F.col(seq_col).alias("s"), F.col("lat").alias("la"),
                     F.col("lon").alias("lo"))
        ).alias("_o"),
        F.max(
            F.struct(F.col(seq_col).alias("s"), F.col("lat").alias("la"),
                     F.col("lon").alias("lo"))
        ).alias("_d"),
    )
    cells = ends.select(
        cell_id(F.col("_o.la"), F.col("_o.lo"), res).alias("o_cell"),
        cell_id(F.col("_d.la"), F.col("_d.lo"), res).alias("d_cell"),
    )
    return cells.groupBy("o_cell", "d_cell").agg(
        F.count(F.lit(1)).alias("n_trips")
    )


def headway_stats(
    arrivals: DataFrame,
    route_col: str = "route_id",
    stop_col: str = "stop_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(route_id, stop_id, n_trips, min_gap_ms, max_gap_ms, sum_gap_ms):
    consecutive-arrival headway statistics per (route, stop) — the
    service-frequency profile a schedule validator compares against the
    published frequencies.

    Gaps are integer epoch-millisecond differences over one per-key ordered
    window (ties broken deterministically on ``tiebreak_col``), then a
    grouped aggregate; all integer outputs, oracle bit-exact. Skew is
    the busiest (route, stop)'s arrival count — the same per-key window
    bound as every window operator here."""
    w = Window.partitionBy(route_col, stop_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    epoch = F.unix_millis(F.col(ts_col).cast("timestamp"))
    gaps = arrivals.select(
        route_col,
        stop_col,
        (epoch - F.lag(epoch).over(w)).alias("_gap"),
    ).filter(F.col("_gap").isNotNull())
    return gaps.groupBy(route_col, stop_col).agg(
        (F.count(F.lit(1)) + 1).alias("n_trips"),
        F.min("_gap").alias("min_gap_ms"),
        F.max("_gap").alias("max_gap_ms"),
        F.sum("_gap").alias("sum_gap_ms"),
    )


def space_time_match(
    events: DataFrame,
    points: DataFrame,
    res: int,
    window_ms: int,
    k_ring: int = 1,
    event_key: str = "event_id",
) -> DataFrame:
    """(event_id, trace_id, obs_seq, dt_ms): for each located+timestamped
    event, the nearest trace observation in SPACE among those within
    ``window_ms`` milliseconds in TIME — the spatiotemporal join that
    attributes an incident/reading to the vehicle pass that caused it.

    Candidates are pruned on BOTH axes before any geometry math: the
    cell equi join bounds space (event explodes its ``k_ring``; points
    carry their single cell) and an integer time-bucket equality bounds
    time — each event probes its own and the two adjacent buckets of
    width ``window_ms``, so a candidate pair always shares a (cell,
    bucket) key and the shuffle is keyed by that composite, never a
    cross join. The winner is a min-struct argmin on (d², |dt|, trace,
    seq) — floats order, integers break ties, the emitted columns are
    integers only (oracle-exact)."""
    from osm2gtfs_spark.functions.geo import cell_ring

    ev_epoch = F.unix_millis(F.col("ts").cast("timestamp"))
    pt_epoch = F.unix_millis(F.col("ts").cast("timestamp"))
    ev = events.select(
        F.col(event_key),
        F.col("lat").alias("_e_lat"),
        F.col("lon").alias("_e_lon"),
        ev_epoch.alias("_e_t"),
        F.explode(cell_ring(cell_id("lat", "lon", res), res, k_ring)).alias("_cell"),
    ).withColumn(
        "_bucket",
        F.explode(
            F.array(
                F.expr(f"_e_t div {window_ms} - 1"),
                F.expr(f"_e_t div {window_ms}"),
                F.expr(f"_e_t div {window_ms} + 1"),
            )
        ),
    )
    pt = points.select(
        F.col("trace_id"),
        F.col("obs_seq"),
        F.col("lat").alias("_p_lat"),
        F.col("lon").alias("_p_lon"),
        pt_epoch.alias("_p_t"),
        cell_id("lat", "lon", res).alias("_cell"),
    ).withColumn("_bucket", F.expr(f"_p_t div {window_ms}"))
    cand = (
        ev.join(pt, ["_cell", "_bucket"])
        .filter(F.abs(F.col("_p_t") - F.col("_e_t")) <= window_ms)
        .select(
            event_key, "_e_lat", "_e_lon", "_e_t",
            "trace_id", "obs_seq", "_p_lat", "_p_lon", "_p_t",
        )
        # a point carries ONE (cell, bucket); the event's ring x bucket
        # combos are distinct except degenerate grid wrap (tiny res) —
        # the distinct is cheap insurance for that edge
        .distinct()
    )
    dx = F.col("_p_lat") - F.col("_e_lat")
    dy = F.col("_p_lon") - F.col("_e_lon")
    best = cand.groupBy(event_key).agg(
        F.min(
            F.struct(
                (dx * dx + dy * dy).alias("d"),
                F.abs(F.col("_p_t") - F.col("_e_t")).alias("adt"),
                F.col("trace_id").alias("tr"),
                F.col("obs_seq").alias("sq"),
                (F.col("_p_t") - F.col("_e_t")).alias("dt"),
            )
        ).alias("_b")
    )
    return best.select(
        event_key,
        F.col("_b.tr").alias("trace_id"),
        F.col("_b.sq").alias("obs_seq"),
        F.col("_b.dt").alias("dt_ms"),
    )


def route_overlap_jaccard(
    segments: DataFrame,
    res: int,
    route_col: str = "route_id",
    max_cells: int = 256,
    min_shared: int = 1,
) -> DataFrame:
    """(route_a, route_b, n_shared, jaccard_permille): corridor overlap
    between every pair of routes that share at least ``min_shared``
    grid cells — the network-redundancy analysis ("which routes
    duplicate each other?") planners run over an emitted GTFS network.

    A route's footprint is the distinct set of bbox-cover cells of its
    segments (complete, closed-form — no sampling); overlap is a
    self-equi-join on cell id with the same banded-bucket shape as
    MinHash-LSH candidate pairing (operators/dedup.py): pairs only ever
    form inside one cell's route list, so the shuffle is keyed by cell
    and bounded by the densest cell's route count, never a cross join.
    Jaccard is all-integer: 1000·|∩| div (|A|+|B|−|∩|)."""
    from osm2gtfs_spark.operators.spatial import _segment_cells

    named = segments.select(
        F.col(route_col),
        F.col("lat1").alias("_slat1"),
        F.col("lon1").alias("_slon1"),
        F.col("lat2").alias("_slat2"),
        F.col("lon2").alias("_slon2"),
    )
    cov = (
        _segment_cells(named, route_col, res, max_cells, "_s")
        .select(route_col, "_cell")
        .distinct()
    )
    # the footprint table feeds the size aggregate AND both sides of
    # the cell self join — materialize the narrow (route, cell) rows
    # once instead of re-running the bbox-cover explode per reference
    # (optimization r6, the dedup band-table pattern)
    cov = materialize(cov)
    sizes = cov.groupBy(route_col).agg(F.count(F.lit(1)).alias("_n"))
    a = cov.select(F.col(route_col).alias("route_a"), "_cell")
    b = cov.select(F.col(route_col).alias("route_b"), "_cell")
    inter = (
        a.join(b, "_cell")
        .filter(F.col("route_a") < F.col("route_b"))
        .groupBy("route_a", "route_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    na = sizes.select(F.col(route_col).alias("route_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col(route_col).alias("route_b"), F.col("_n").alias("_nb"))
    return (
        inter.join(na, "route_a")
        .join(nb, "route_b")
        .select(
            "route_a",
            "route_b",
            "n_shared",
            F.expr("(n_shared * 1000) div (_na + _nb - n_shared)").alias(
                "jaccard_permille"
            ),
        )
    )


def reach_min_cost(
    edges: DataFrame,
    sources: DataFrame,
    hops: int,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    cost_col: str = "cost",
) -> DataFrame:
    """Bounded-hop minimum-cost reachability (Bellman–Ford unrolled):
    (node, min_cost, hops) for every node reachable from ``sources``
    in at most ``hops`` edges, where ``min_cost`` is the cheapest
    cumulative integer edge cost and ``hops`` the hop count of that
    cheapest path (ties break to fewer hops).

    The transit question behind it: "which stops are reachable within
    k transfers, and how cheap" — the reference answers per-stop
    serially while walking relation members; here the whole frontier
    advances per round. ``edges`` is directed: pass both directions
    for an undirected network.

    Plan shape: ``hops`` is a small compile-time constant, so the
    whole computation is ONE lazy Catalyst plan — per round one equi
    join (frontier ⋈ edges on the node key) followed by one
    map-side-combined min per node (the DP recurrence
    ``dp_h(v) = min_u(dp_{h-1}(u) + w(u, v))`` — correct because every
    h-hop path's prefix is an (h−1)-hop path), then one union of the
    per-round tables and a final min(struct). No iteration driver-side,
    no lineage growth beyond ``hops`` stages, shuffle volume per round
    bounded by |frontier| · avg-degree. For unbounded closures use
    :func:`~osm2gtfs_spark.operators.dedup.connected_components`-style
    convergence loops instead; bounded k is the right shape when the
    product (k transfers) is itself bounded.
    """
    if not 1 <= hops <= 8:
        raise ValueError(f"hops must be in [1, 8], got {hops}")
    # each unrolled round re-references the edge lineage; callers whose
    # edge table is expensive to derive should persist() it themselves
    # BEFORE calling (persisting here measured 4x slower at gate scale:
    # InMemoryRelation hides size stats from AQE, demoting broadcast
    # joins to sort-merge, and cold-cache block locks serialize)
    e = edges.select(
        F.col(src_col).alias("_es"),
        F.col(dst_col).alias("_ed"),
        F.col(cost_col).cast("long").alias("_ec"),
    )
    rounds = [
        sources.select(
            F.col(node_col).alias("_n"),
            F.lit(0).cast("long").alias("_c"),
            F.lit(0).cast("long").alias("_h"),
        )
    ]
    for h in range(1, hops + 1):
        prev = rounds[-1].select("_n", "_c")
        rounds.append(
            prev.join(e, prev["_n"] == e["_es"])
            .select(
                F.col("_ed").alias("_n"),
                (F.col("_c") + F.col("_ec")).alias("_c"),
            )
            .groupBy("_n")
            .agg(F.min("_c").alias("_c"))
            .withColumn("_h", F.lit(h).cast("long"))
        )
    allr = rounds[0]
    for r in rounds[1:]:
        allr = allr.unionByName(r)
    best = allr.groupBy("_n").agg(
        F.min(F.struct(F.col("_c").alias("c"), F.col("_h").alias("h"))).alias("_b")
    )
    return best.select(
        F.col("_n").alias(node_col),
        F.col("_b.c").alias("min_cost"),
        F.col("_b.h").alias("hops"),
    )


def pagerank_bounded(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 1_000_000,
    damping_permille: int = 850,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank, ``iters`` power iterations unrolled into ONE
    lazy plan, in EXACT integer arithmetic: (node, rank) where ranks
    start at ``scale`` and each round applies
    ``rank'(v) = base + d·Σ_u (rank(u)·w(u,v)) // W(u)`` with
    ``base = scale·(1000−d‰)//1000`` and every product/division on
    BIGINTs — so the result is bit-reproducible regardless of
    aggregation order (float PageRank is not: double sums reorder
    under shuffle). Flow-weighted importance over an OD matrix is the
    transit use: "which cells anchor the network".

    Dangling nodes (no out-edges) keep receiving the teleport base and
    leak their own mass — the standard simplification; add explicit
    sink edges if conservation matters. Like
    :func:`reach_min_cost`, the iteration count is a compile-time
    constant: per round one equi join against the (out-weight-joined)
    edge table and one map-side-combined sum — no driver loop, no
    lineage growth beyond ``iters`` stages.
    """
    if not 1 <= iters <= 6:
        raise ValueError(f"iters must be in [1, 6], got {iters}")
    base = scale * (1000 - damping_permille) // 1000
    e = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    # every iteration re-references the out-weighted edge and node
    # lineages; callers with an expensive upstream (a big OD
    # aggregation) should persist() edges BEFORE calling — persisting
    # here measured 4x slower at gate scale (InMemoryRelation hides
    # size stats from AQE, demoting broadcast joins to sort-merge)
    ew = e.join(outw, "_s")
    nodes = (
        e.select(F.col("_s").alias("_n"))
        .unionByName(e.select(F.col("_d").alias("_n")))
        .distinct()
    )
    rank = nodes.select("_n", F.lit(scale).cast("long").alias("_r"))
    for _ in range(iters):
        contrib = (
            rank.join(ew, rank["_n"] == ew["_s"])
            .select(
                F.col("_d").alias("_n"),
                F.expr("_r * _w div _ow").alias("_c"),
            )
            .groupBy("_n")
            .agg(F.sum("_c").alias("_c"))
        )
        rank = nodes.join(contrib, "_n", "left").select(
            "_n",
            (
                F.lit(base)
                + F.expr(f"{damping_permille} * coalesce(_c, 0L) div 1000")
            ).cast("long").alias("_r"),
        )
    return rank.select(F.col("_n").alias("node"), F.col("_r").alias("rank"))


def flow_rose(
    traces: DataFrame,
    res: int,
    trace_col: str = "trace_id",
    seq_col: str = "obs_seq",
) -> DataFrame:
    """(cell_id, sector, n): directional flow histogram — consecutive
    observations of each trace binned into 8 compass sectors at the
    origin point's cell. The "flow rose" a network planner reads per
    tile ("traffic here moves mostly north-east").

    Sectors are 0..7 counter-clockwise from East (E, NE, N, NW, W, SW,
    S, SE), cut at the octant diagonals via sign and |dlat| vs |dlon|
    comparisons — completely trig-free (same dialect decision as
    turn_classification: atan2 drifts across engines, comparisons
    don't). Zero-displacement pairs are dropped.

    Plan: one per-trace lag window (partitioned by trace, never
    global) + one grouped count, both map-side combined. Skew bounded
    by the hottest trace / cell.
    """
    w = Window.partitionBy(trace_col).orderBy(seq_col)
    steps = traces.select(
        F.col(trace_col),
        F.col(seq_col),
        F.col("lat"),
        F.col("lon"),
        F.lag("lat").over(w).alias("_plat"),
        F.lag("lon").over(w).alias("_plon"),
    ).filter(F.col("_plat").isNotNull())
    dlat = F.col("lat") - F.col("_plat")
    dlon = F.col("lon") - F.col("_plon")
    adlat, adlon = F.abs(dlat), F.abs(dlon)
    # octant cuts at |dlat| = |dlon| (the 45-degree diagonals); axis
    # ties go to the counter-clockwise-earlier sector deterministically
    sector = (
        F.when((adlon >= adlat) & (dlon > 0) & (dlat >= 0), 0)   # E
        .when((adlat > adlon) & (dlat > 0) & (dlon >= 0), 1)     # NE->N side
        .when((adlat > adlon) & (dlat > 0), 2)                   # N->NW side
        .when((adlon >= adlat) & (dlon < 0) & (dlat > 0), 3)     # NW->W side
        .when((adlon >= adlat) & (dlon < 0), 4)                  # W/SW side
        .when((adlat > adlon) & (dlat < 0) & (dlon <= 0), 5)     # SW->S side
        .when((adlat > adlon) & (dlat < 0), 6)                   # S->SE side
        .otherwise(7)                                            # SE->E side
    )
    moved = steps.filter((dlat != 0) | (dlon != 0))
    return (
        moved.groupBy(
            cell_id(F.col("_plat"), F.col("_plon"), res).alias("cell_id"),
            sector.cast("long").alias("sector"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cell_anomaly(
    points: DataFrame,
    res: int,
    window: str = "1 hour",
    ts_col: str = "ts",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(cell_id, ws_epoch, n, z): tumbling-window activity counts per
    cell plus each window's z-score against ITS OWN cell's history —
    "this tile is 3σ above its normal hourly traffic", the anomaly
    feed behind incident detection on a coverage map.

    Moments are over the cell's OCCUPIED windows (sparse-raster
    convention, same as gi_star's support): exact BIGINT sums via one
    window partitioned BY CELL over the per-(cell, window) aggregate —
    never a global window, state bounded by the busiest cell's window
    count. The z expression mirrors token-for-token in the oracle
    (IEEE mul/div/sqrt bit-identical); a constant-history cell (zero
    variance) yields z = 0 explicitly — Spark x/0 is NULL where DuckDB
    is inf, so the guard is a CASE branch on both sides.
    """
    counts = (
        points.groupBy(
            F.window(ts_col, window).alias("_w"),
            cell_id(lat_col, lon_col, res).alias("cell_id"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            # NTZ-safe via the session-UTC timestamp cast (same dialect
            # note as sessionize_batch)
            F.unix_seconds(F.col("_w.start").cast("timestamp")).alias("ws_epoch"),
            "cell_id",
            "n",
        )
    )
    wc = Window.partitionBy("cell_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stats = (
        counts.withColumn("_k", F.count(F.lit(1)).over(wc))
        .withColumn("_s1", F.sum("n").over(wc))
        .withColumn("_s2", F.sum(F.col("n") * F.col("n")).over(wc))
    )
    kd = F.col("_k").cast("double")
    s1d = F.col("_s1").cast("double")
    s2d = F.col("_s2").cast("double")
    nd = F.col("n").cast("double")
    mean = s1d / kd
    varp = s2d / kd - mean * mean
    z = F.when(F.sqrt(varp) == F.lit(0.0), F.lit(0.0)).otherwise(
        (nd - mean) / F.sqrt(varp)
    )
    return stats.select("cell_id", "ws_epoch", "n", z.alias("z"))


def speed_map(
    pings: DataFrame,
    res: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(cell_id, n_segments, sum_speed_mm_s): per-cell traffic-speed
    partials from consecutive pings of each user — the speed heatmap
    behind congestion maps. Speeds are exact integers (floor of
    great-circle millimeters per second: haversine_m·10^6 div gap_ms),
    and the per-cell output is (count, sum) PARTIALS rather than a
    mean, so downstream rollups (coarser cells, longer horizons) merge
    without re-reading pings and the double division happens exactly
    once, client-side.

    Segments attach to the cell of their ORIGIN ping; zero/negative
    time gaps are dropped (clock skew), as are zero-distance holds.
    Plan: one per-user lag window + one grouped sum — map-side
    combined, skew bounded by the busiest user / cell.
    """
    from osm2gtfs_spark.functions.geo import haversine_m

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    epoch = F.unix_millis(F.col(ts_col).cast("timestamp"))
    steps = pings.select(
        F.col(user_col),
        F.col("lat"),
        F.col("lon"),
        epoch.alias("_t"),
        F.lag("lat").over(w).alias("_plat"),
        F.lag("lon").over(w).alias("_plon"),
        F.lag(epoch).over(w).alias("_pt"),
    ).filter(F.col("_pt").isNotNull() & (F.col("_t") > F.col("_pt")))
    dist_m = haversine_m(F.col("_plat"), F.col("_plon"), F.col("lat"), F.col("lon"))
    speed = F.floor(
        dist_m * F.lit(1000000.0) / (F.col("_t") - F.col("_pt")).cast("double")
    ).cast("long")
    moving = steps.filter(dist_m > 0)
    return (
        moving.groupBy(cell_id(F.col("_plat"), F.col("_plon"), res).alias("cell_id"))
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(speed).alias("sum_speed_mm_s"),
        )
    )


def cell_mix_gini(
    events: DataFrame,
    res: int,
    category_col: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(cell_id, n, gini_permille): per-cell categorical diversity as
    EXACT integer Gini impurity — 1000 − (1000·Σ n_c²) div n² — over
    the category mix observed in each cell ("is this tile single-use
    or mixed"). 0 = one category only; approaching 1000 = uniform mix.

    Shannon entropy is the textbook choice but ln() drifts across
    engines (the bigram_fluency_score lesson); Gini is a polynomial in
    the counts, so it is oracle-exact AND cheaper (no log per row).
    Two map-side-combined aggregates — (cell, category) counts, then
    per-cell moments; skew bounded by the densest cell.
    """
    per_cat = events.groupBy(
        cell_id(lat_col, lon_col, res).alias("cell_id"),
        F.col(category_col).alias("_cat"),
    ).agg(F.count(F.lit(1)).alias("_nc"))
    per_cell = per_cat.groupBy("cell_id").agg(
        F.sum("_nc").alias("n"),
        F.sum(F.col("_nc") * F.col("_nc")).alias("_s2"),
    )
    gini = F.lit(1000) - F.expr("1000 * _s2 div (n * n)")
    return per_cell.select("cell_id", "n", gini.cast("long").alias("gini_permille"))


def grid_flow_field(
    traces: DataFrame,
    res: int,
    trace_col: str = "trace_id",
    seq_col: str = "obs_seq",
) -> DataFrame:
    """(cell_id, n, sum_dlat_e6, sum_dlon_e6): the mean-displacement
    VECTOR field on the cell grid — the quantitative companion to
    :func:`flow_rose` (which bins direction): each consecutive
    observation pair contributes its exact micro-degree displacement
    (floor(d·10^6)) to its origin cell, emitted as (count, sum)
    partials so the mean vector is one exact client-side division and
    coarser rollups merge without re-reading traces.

    Same plan as the rose: one per-trace lag window + one grouped sum;
    zero-displacement holds dropped.
    """
    w = Window.partitionBy(trace_col).orderBy(seq_col)
    steps = traces.select(
        F.col("lat"),
        F.col("lon"),
        F.lag("lat").over(w).alias("_plat"),
        F.lag("lon").over(w).alias("_plon"),
    ).filter(F.col("_plat").isNotNull())
    dlat = F.col("lat") - F.col("_plat")
    dlon = F.col("lon") - F.col("_plon")
    moved = steps.filter((dlat != 0) | (dlon != 0))
    return (
        moved.groupBy(cell_id(F.col("_plat"), F.col("_plon"), res).alias("cell_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(dlat * F.lit(1000000.0)).cast("long")).alias("sum_dlat_e6"),
            F.sum(F.floor(dlon * F.lit(1000000.0)).cast("long")).alias("sum_dlon_e6"),
        )
    )
