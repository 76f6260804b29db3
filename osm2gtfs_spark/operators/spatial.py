"""Spatial operators: kNN snap, tile coverage, point-in-polygon, skew tools.

These are the north-rule operators the reference performs implicitly and
serially:

- kNN snap — reference does one Overpass radius query *per stop* plus a
  linear argmin (``osm2gtfs/core/osm_connector.py:696-785``). Here it is
  one batched cell-ring join over the whole corpus.
- point-in-bbox (``osm_connector.py:38-41``) generalized to
  point-in-polygon.
- tile coverage — new surface (north rule): per-cell aggregates.

Scale notes (100 TB / 10^12 docs): every cell-bucketed join goes
through :func:`ring_candidates` and every cell-neighbourhood scatter
through :func:`ring_neighbors`, so the shape below holds for all of them.
- the candidate join shuffles only (probes × ring_size) rows keyed by
  cell id; candidate sets are bounded by cell area, never a cross join.
- the probe side explodes its ring (≤ (2k+1)^2 ids/point); the build side
  is keyed by its own single cell (or its cover cells) — so build-side
  rows are NOT replicated and the shuffle stays linear in input size.
- argmin winners come from :func:`argmin_struct`'s map-side-combined
  min(struct), so the exchange carries points, not candidates.
- hot cells (dense urban areas) are handled by AQE skew-join splitting
  plus :func:`adaptive_resolution` which re-encodes over-dense cells at a
  finer resolution before aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osm2gtfs_spark.functions.geo import (
    _IX_SHIFT,
    _RES_SHIFT,
    cell_id,
    cell_ix,
    cell_iy,
    cell_parent,
    cell_ring,
    haversine_m,
)


def _map_parallelism_floor(df: DataFrame) -> DataFrame:
    """Guide §2.5 "input skew": a single unsplittable input (one-row-
    group parquet, gzip, one tiny file) caps the MAP side of a fanout
    operator at one task — the explode/sample/sign-test work downstream
    then runs on one core no matter how many the session has. When the
    current physical partitioning is below the session's default
    parallelism, round-robin repartition once BEFORE the fanout (the
    pre-fanout rows are the narrow side, so this moves the minimum
    possible bytes). Scale-adaptive: a production-size table scans as
    many splits, the condition is false, and no exchange is added —
    the target tracks ``defaultParallelism``, never a constant.

    A ``df`` whose physical plan holds an exchange is returned as is:
    its map side already follows the shuffle's partitioning, and reading
    its partition count would run the shuffle stages at construction."""
    if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic plans without an RDD
        return df
    return df.repartition(target) if current < target else df


def ring_candidates(
    probe: DataFrame,
    build: DataFrame,
    res: int,
    k_ring: int,
    radius_deg: float | None = None,
    keys: Sequence[str] = (),
) -> DataFrame:
    """The one cell-ring candidate join (SURVEY.md J9): every (probe,
    build) row pair whose cells lie within Chebyshev distance ``k_ring``
    at resolution ``res`` — never a cross join.

    ``probe`` carries ``lat``/``lon``; its cell ring is exploded here,
    on the probe side only. ``build`` carries ``_cell``: its own cell id
    at ``res``, or one row per cover cell, and must not carry
    ``lat``/``lon``. ``keys`` are extra equi-join columns present on both
    sides. The output is every probe and build column but ``_cell``.

    A build row seen from several cells of one probe's ring (a cover
    wider than one cell, or the ring wrapping on itself at tiny ``res``)
    pairs with that probe once per shared cell; set-valued callers
    dedupe, argmin callers need not.

    ``radius_deg``, when given, is the caller's distance cut. A pair at
    distance ≤ r spans at most ceil(r / min_cell_dim) cells, so
    ``radius_deg > k_ring · 180 / 2^res`` (latitude cells are the
    smaller side) would silently drop pairs and raises instead.

    The probe gets :func:`_map_parallelism_floor` before the fanout; the
    ring wraps at the antimeridian and drops rows past the poles
    (:func:`~osm2gtfs_spark.functions.geo.cell_ring`)."""
    if radius_deg is not None:
        min_cell_dim = 180.0 / (2**res)
        if radius_deg > k_ring * min_cell_dim:
            raise ValueError(
                f"radius_deg={radius_deg} exceeds ring reach "
                f"{k_ring} * {min_cell_dim} at res={res}; candidates would be "
                f"dropped — use a coarser res or a larger k_ring"
            )
    ringed = _map_parallelism_floor(probe).select(
        "*",
        F.explode(cell_ring(cell_id("lat", "lon", res), res, k_ring)).alias("_cell"),
    )
    return ringed.join(build, ["_cell", *keys]).drop("_cell")


def ring_neighbors(cells: DataFrame, res: int, k: int, cell_col: str = "cell_id") -> DataFrame:
    """Scatter to the ring: each row of ``cells`` once per cell within
    Chebyshev distance ``k`` of its ``cell_col`` (itself included), with
    ``cell_col`` replaced by that neighbour's id; every other column is
    carried. A groupBy on ``cell_col`` then sums each cell's
    neighbourhood — 9·|cells| rows at k=1, empty cells never exist.

    No parallelism floor: the inputs are per-cell aggregates, and
    ``.rdd`` on them would finalize their adaptive plan at construction."""
    ring = F.explode(cell_ring(F.col(cell_col), res, k)).alias(cell_col)
    return cells.select(*[ring if c == cell_col else F.col(c) for c in cells.columns])


def argmin_struct(
    df: DataFrame, key: str, order: Sequence[Column], carry: Sequence[Column] = ()
) -> DataFrame:
    """One row per ``key``: the fields of the row whose ``order`` tuple
    is least, compared left to right, then ``carry`` (which only breaks
    ties ``order`` leaves). Every field is named by its alias.

    A two-phase min(struct) aggregate, not a window: it combines
    map-side, so the exchange carries one row per (key, map partition)
    instead of every candidate row; a candidate duplicated by the ring
    join does not change a min."""
    best = df.groupBy(key).agg(F.min(F.struct(*order, *carry)).alias("_b"))
    return best.select(key, "_b.*")


def knn_snap(
    points: DataFrame,
    targets: DataFrame,
    res: int,
    k_ring: int = 1,
    point_key: str = "stop_key",
    target_key: str = "station_key",
    distance: str = "sqdeg",
) -> DataFrame:
    """Nearest-target snap via cell-ring candidate join (SURVEY.md J9).

    For every point, candidates are targets whose cell lies within
    Chebyshev distance ``k_ring`` of the point's cell at resolution
    ``res`` (:func:`ring_candidates`); the winner is the argmin by
    distance with deterministic tie-break on ``target_key``. Points with
    no candidate in the ring are *omitted* (caller may re-run with a
    larger ring / coarser res for the residue — bounded driver-side
    iteration, never a cross join).

    ``distance='sqdeg'`` ranks by exact squared degree distance
    (reproducible bit-for-bit in any engine — used by correctness
    oracles); ``'haversine'`` ranks by meters (used by the pipeline).

    Returns (point_key, nearest_<target_key>).
    """
    tgt = targets.select(
        F.col(target_key),
        F.col("lat").alias("_t_lat"),
        F.col("lon").alias("_t_lon"),
        cell_id("lat", "lon", res).alias("_cell"),
    )
    cand = ring_candidates(points.select(point_key, "lat", "lon"), tgt, res, k_ring)
    if distance == "haversine":
        dist: Column = haversine_m("lat", "lon", "_t_lat", "_t_lon")
    else:
        dlat = F.col("lat") - F.col("_t_lat")
        dlon = F.col("lon") - F.col("_t_lon")
        dist = dlat * dlat + dlon * dlon
    best = argmin_struct(cand, point_key, [dist.alias("d"), F.col(target_key)])
    return best.select(point_key, F.col(target_key).alias(f"nearest_{target_key}"))


def tile_coverage(
    points: DataFrame,
    res: int,
    group_cols: tuple[str, ...] = (),
    count_distinct_col: str | None = None,
) -> DataFrame:
    """Raster↔vector tile assignment: per-cell coverage aggregates.

    ``groupBy(cell)`` with partial (map-side) aggregation — the canonical
    scalable shape; at 10^12 rows this is one shuffle keyed by cell id
    with combiners doing most of the reduction.
    """
    cell = cell_id("lat", "lon", res).alias("cell_id")
    aggs = [F.count(F.lit(1)).alias("n_points")]
    if count_distinct_col:
        aggs.append(F.countDistinct(count_distinct_col).alias(f"n_{count_distinct_col}"))
    return points.groupBy(cell, *[F.col(c) for c in group_cols]).agg(*aggs)


def adaptive_resolution(points: DataFrame, res: int, max_per_cell: int, fine_res: int) -> DataFrame:
    """Skew splitter: re-encode points in over-dense cells at ``fine_res``.

    Two passes: (1) count per coarse cell (cheap — partial agg), broadcast
    the hot-cell set; (2) assign ``cell_id`` at ``fine_res`` for points in
    hot cells, coarse elsewhere. North-rule skew handling: bounds the
    per-cell candidate set for downstream joins regardless of urban
    density. Output adds ``cell_id`` and ``cell_res`` columns.
    """
    coarse = cell_id("lat", "lon", res)
    hot = (
        points.groupBy(coarse.alias("cell_id"))
        .count()
        .filter(F.col("count") > max_per_cell)
        .select("cell_id")
    )
    fine = cell_id("lat", "lon", fine_res)
    return (
        points.withColumn("_coarse", coarse)
        .join(F.broadcast(hot.withColumnRenamed("cell_id", "_coarse").withColumn("_hot", F.lit(True))), "_coarse", "left")
        .withColumn("cell_id", F.when(F.col("_hot"), fine).otherwise(F.col("_coarse")))
        .withColumn("cell_res", F.when(F.col("_hot"), F.lit(fine_res)).otherwise(F.lit(res)))
        .drop("_coarse", "_hot")
    )


_CLUSTER_SCHEMA = "stop_key string, name string, cluster_id string, is_center boolean"


def _cluster_group(pdf):
    """O2/J10: greedy first-fit 500 m clustering within one name group.

    Reference (gh_accra/stops_creator_gh_accra.py:34-63): walk stops
    sorted by osm_id; attach to the FIRST existing area whose center is
    < 500 m crow-fly; else found a new area centered on this stop. The
    loop is order-dependent by design — groups are small (stops sharing
    a name), so a per-group kernel is the right distribution boundary."""
    import math

    import pandas as pd

    pdf = pdf.sort_values("osm_id")
    centers: list[tuple[str, float, float]] = []
    out = []

    def crow_fly_m(lat1, lon1, lat2, lon2):
        dlat, dlon = math.radians(lat2 - lat1), math.radians(lon2 - lon1)
        a = math.sin(dlat / 2) ** 2 + math.cos(math.radians(lat1)) * math.cos(
            math.radians(lat2)
        ) * math.sin(dlon / 2) ** 2
        return 2 * 6371000.0 * math.asin(math.sqrt(a))

    for r in pdf.itertuples(index=False):
        parent = None
        for cid, clat, clon in centers:
            if crow_fly_m(clat, clon, r.lat, r.lon) < 500:
                parent = cid
                break
        if parent is None:
            parent = f"area_{r.stop_key}"
            centers.append((parent, r.lat, r.lon))
            out.append((r.stop_key, r.name, parent, True))
        else:
            out.append((r.stop_key, r.name, parent, False))
    return pd.DataFrame(out, columns=["stop_key", "name", "cluster_id", "is_center"])


def cluster_stops_greedy(stops: DataFrame) -> DataFrame:
    """Distance-threshold clustering of same-named stops (J10/O2).

    groupBy(name).applyInPandas with deterministic in-group order —
    the sequential first-fit semantics cannot be a relational join."""
    src = stops.select("stop_key", "osm_id", "name", "lat", "lon")
    return src.groupBy("name").applyInPandas(lambda pdf: _cluster_group(pdf), _CLUSTER_SCHEMA)


def point_in_convex_polygon(points: DataFrame, vertices: list[tuple[float, float]], lat_col: str = "lat", lon_col: str = "lon") -> DataFrame:
    """Filter points inside a convex polygon via half-plane tests.

    ``vertices`` are (lat, lon) in counter-clockwise order. Each edge
    contributes one cross-product sign predicate — exact IEEE multiply/
    subtract, fully codegen'd, zero UDFs, and bit-identical in the SQL
    oracle. Generalizes the reference's bbox (J12); the non-convex /
    multi-ring case lives in :func:`point_in_polygon_winding`.
    """
    pred = point_in_convex_polygon_pred(vertices, lat_col, lon_col)
    return points.filter(pred)


def point_in_convex_polygon_pred(vertices: list[tuple[float, float]], lat_col: str = "lat", lon_col: str = "lon") -> Column:
    lat, lon = F.col(lat_col), F.col(lon_col)
    pred = F.lit(True)
    n = len(vertices)
    for i in range(n):
        (lat1, lon1), (lat2, lon2) = vertices[i], vertices[(i + 1) % n]
        # cross((v2-v1), (p-v1)) >= 0 for CCW vertices, treating lon as x, lat as y
        cross = (F.lit(lon2 - lon1)) * (lat - F.lit(lat1)) - (F.lit(lat2 - lat1)) * (lon - F.lit(lon1))
        pred = pred & (cross >= 0)
    return pred


def point_in_convex_polygon_sql(vertices: list[tuple[float, float]], lat_expr: str, lon_expr: str) -> str:
    """The identical half-plane conjunction as an ANSI SQL predicate."""
    terms = []
    n = len(vertices)
    for i in range(n):
        (lat1, lon1), (lat2, lon2) = vertices[i], vertices[(i + 1) % n]
        terms.append(
            f"(({lon2!r} - {lon1!r}) * (({lat_expr}) - {lat1!r}) - "
            f"({lat2!r} - {lat1!r}) * (({lon_expr}) - {lon1!r}) >= 0)"
        )
    return " AND ".join(terms)


def _polygon_edges(vertices_col: str = "vertices") -> Column:
    """Directed edge array of a closed polygon column: each vertex
    zipped with its successor (array rotated by one). Shared by every
    vertex-table polygon operator so the ring convention lives in ONE
    place (review r5c)."""
    succ = F.concat(
        F.slice(vertices_col, 2, F.size(vertices_col) - 1),
        F.slice(vertices_col, 1, 1),
    )
    return F.arrays_zip(F.col(vertices_col).alias("v1"), succ.alias("v2"))


def _edges_contain(edges: Column, lat: Column, lon: Column) -> Column:
    """Convex-CCW containment: every directed edge's cross product
    with the point is >= 0 (boundary inclusive). The IEEE expression
    is mirrored in the oracle SQL at each gate site."""
    return F.forall(
        edges,
        lambda e: (e["v2"]["lon"] - e["v1"]["lon"]) * (lat - e["v1"]["lat"])
        - (e["v2"]["lat"] - e["v1"]["lat"]) * (lon - e["v1"]["lon"])
        >= 0,
    )


def polygon_table_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 4,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Points × polygon TABLE containment join (north star: stops vs
    route hulls / city boundaries) — never a nested loop.

    ``polygons``: (polygon_id, vertices array<struct<lat,lon>>), convex,
    counter-clockwise. Each polygon explodes over the grid cells its
    bbox covers at ``res``; points carry their own (ix, iy) cell; the
    join is equi on the cell and the exact containment test is a fold
    of per-edge cross-product signs over the vertex array — same IEEE
    arithmetic as :func:`point_in_convex_polygon`, vertex-table-driven
    instead of literal. Output: point rows + polygon_id (one row per
    containing polygon).

    Scale shape: shuffle keyed by grid cell; a polygon costs
    O(bbox cells at res) rows — pick ``res`` so typical polygons span
    a handful of cells; dense urban cells are ordinary skew (AQE).
    """
    lat_min = F.array_min(F.transform("vertices", lambda v: v["lat"]))
    lat_max = F.array_max(F.transform("vertices", lambda v: v["lat"]))
    lon_min = F.array_min(F.transform("vertices", lambda v: v["lon"]))
    lon_max = F.array_max(F.transform("vertices", lambda v: v["lon"]))
    cells = (
        polygons.withColumn("_ix", F.explode(F.sequence(cell_ix(lon_min, res), cell_ix(lon_max, res))))
        .withColumn("_iy", F.explode(F.sequence(cell_iy(lat_min, res), cell_iy(lat_max, res))))
    )
    pts = points.withColumn("_ix", cell_ix(F.col(lon_col), res)).withColumn(
        "_iy", cell_iy(F.col(lat_col), res)
    )
    lat, lon = F.col(lat_col), F.col(lon_col)
    inside = _edges_contain(_polygon_edges("vertices"), lat, lon)
    return pts.join(cells, ["_ix", "_iy"]).filter(inside).drop("_ix", "_iy", "vertices")


def point_in_polygon_winding_pred(
    vertices: list[tuple[float, float]], lat_col: str = "lat", lon_col: str = "lon"
) -> Column:
    """Ray-casting (even-odd crossing) containment for ARBITRARY simple
    polygons — the non-convex complement of the half-plane test. One
    crossing term per edge, pure codegen column math; horizontal edges
    never properly cross a horizontal ray, so they are skipped at plan
    build time (also avoids a /0 that would raise under ANSI mode).
    Identical IEEE arithmetic is emitted by
    :func:`point_in_polygon_winding_sql`."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    crossings = F.lit(0)
    n = len(vertices)
    for i in range(n):
        (lat1, lon1), (lat2, lon2) = vertices[i], vertices[(i + 1) % n]
        if lat2 == lat1:
            continue
        hits = (F.lit(lat1) > lat) != (F.lit(lat2) > lat)
        xcut = F.lit(lon2 - lon1) * (lat - F.lit(lat1)) / F.lit(lat2 - lat1) + F.lit(lon1)
        crossings = crossings + F.when(hits & (lon < xcut), 1).otherwise(0)
    return crossings % 2 == 1


def point_in_polygon_winding(
    points: DataFrame, vertices: list[tuple[float, float]], lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    return points.filter(point_in_polygon_winding_pred(vertices, lat_col, lon_col))


def point_in_polygon_winding_sql(
    vertices: list[tuple[float, float]], lat_expr: str, lon_expr: str
) -> str:
    """The identical even-odd crossing count as an ANSI SQL predicate."""
    terms = []
    n = len(vertices)
    for i in range(n):
        (lat1, lon1), (lat2, lon2) = vertices[i], vertices[(i + 1) % n]
        if lat2 == lat1:  # same skip as the Column builder
            continue
        terms.append(
            f"(CASE WHEN (({lat1!r} > ({lat_expr})) <> ({lat2!r} > ({lat_expr})))"
            f" AND (({lon_expr}) < {lon2 - lon1!r} * (({lat_expr}) - {lat1!r})"
            f" / {lat2 - lat1!r} + {lon1!r}) THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


def polyline_cell_coverage(
    segments: DataFrame,
    res: int,
    id_col: str = "seg_id",
    lat1: str = "lat1",
    lon1: str = "lon1",
    lat2: str = "lat2",
    lon2: str = "lon2",
    oversample: int = 2,
    max_steps: int = 4096,
) -> DataFrame:
    """Vector→raster for polylines: the distinct grid cells each segment
    crosses — the line-rasterization half of the north rule's
    raster↔vector tile assignment (shapes/route geometries → coverage
    cells; the point half is :func:`tile_coverage`).

    Sampling dialect (deterministic, oracle-identical): a segment is
    sampled at n_steps+1 evenly spaced points where n_steps =
    min(max_steps, max(1, ceil(chebyshev length in cells) · oversample));
    covered cells = distinct cell ids of the samples. With the default
    2× oversampling every cell the segment crosses for at least half a
    cell width is hit (brief corner clips can be skipped — a documented
    approximation, standard for coverage maps; raise ``oversample`` to
    tighten). All arithmetic is shared-IEEE double ops, so the DuckDB
    replay is bit-identical.

    A segment with |lon2 − lon1| > 180 is sampled the long way around
    (through every longitude between its endpoints, not across ±180),
    in Spark and in the DuckDB replay alike.

    Scale shape: per-segment fanout is O(length in cells), hard-capped
    at ``max_steps`` (an antimeridian-length segment cannot explode a
    task); explode → project cell → distinct, one shuffle keyed by
    (segment, cell) with map-side combine. No joins, no window."""
    n = 2**res
    seg = _map_parallelism_floor(
        segments.select(
            F.col(id_col),
            F.col(lat1).cast("double").alias("_a1"),
            F.col(lon1).cast("double").alias("_o1"),
            F.col(lat2).cast("double").alias("_a2"),
            F.col(lon2).cast("double").alias("_o2"),
        )
    )
    chebyshev_cells = F.greatest(
        F.abs(F.col("_o2") - F.col("_o1")) / F.lit(360.0) * F.lit(float(n)),
        F.abs(F.col("_a2") - F.col("_a1")) / F.lit(180.0) * F.lit(float(n)),
    )
    n_steps = F.least(
        F.lit(max_steps).cast("long"),
        F.greatest(F.lit(1).cast("long"), F.ceil(chebyshev_cells) * oversample),
    )
    sampled = seg.withColumn("_ns", n_steps).select(
        id_col,
        "_a1",
        "_o1",
        "_a2",
        "_o2",
        "_ns",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("_ns"))).alias("_j"),
    )
    t = F.col("_j").cast("double") / F.col("_ns").cast("double")
    lat = F.col("_a1") + (F.col("_a2") - F.col("_a1")) * t
    lon = F.col("_o1") + (F.col("_o2") - F.col("_o1")) * t
    return (
        sampled.select(F.col(id_col), cell_id(lat, lon, res).alias("cell_id"))
        .distinct()
    )


def cell_compact(
    cells: DataFrame,
    res_from: int,
    res_to: int,
    cell_col: str = "cell_id",
) -> DataFrame:
    """H3-style compaction of an occupied-cell set: wherever all 4
    children of a parent cell are occupied, the quartet is replaced by
    the parent, recursively from ``res_from`` down to ``res_to`` —
    the minimal mixed-resolution covering of a coverage map (smaller
    tile indexes, coarser pruning keys for dense regions).

    Output: (cell_id, cell_res) — the compacted set; union over levels.

    Scale shape: a fixed driver-side loop of (res_from − res_to)
    levels; each level is ONE groupBy(parent) count over the CURRENT
    level's cells only (shrinking 4× per promoted level) plus an
    anti join against the promoted-parent set — left unhinted: the
    promoted set can be up to 1/4 of the level on dense maps, so AQE
    picks broadcast only when it actually fits. No iteration-dependent
    lineage growth (each level's plan depth is constant and level
    count is ≤ MAX_RES, known at plan time)."""
    if res_to >= res_from:
        raise ValueError("res_to must be coarser (smaller) than res_from")
    cur = cells.select(F.col(cell_col).alias("cell_id")).distinct()
    out_levels: list[DataFrame] = []
    for r in range(res_from, res_to, -1):
        parent = cell_parent(F.col("cell_id"), r, r - 1).alias("_parent")
        promoted = (
            cur.select(parent)
            .groupBy("_parent")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") == 4)
            .select("_parent")
        )
        kept = (
            cur.withColumn("_parent", parent)
            .join(promoted, "_parent", "left_anti")
            .select("cell_id")
            .withColumn("cell_res", F.lit(r))
        )
        out_levels.append(kept)
        cur = promoted.select(F.col("_parent").alias("cell_id"))
    out_levels.append(cur.withColumn("cell_res", F.lit(res_to)))
    result = out_levels[0]
    for lvl in out_levels[1:]:
        result = result.unionByName(lvl)
    return result


def snap_to_polyline(
    points: DataFrame,
    segments: DataFrame,
    res: int,
    k_ring: int = 1,
    point_key: str = "stop_key",
    seg_key: str = "seg_id",
    oversample: int = 2,
    max_steps: int = 4096,
) -> DataFrame:
    """Point→route-GEOMETRY snap (north star: 'kNN snap of unmatched
    stops to route geometries'): the nearest polyline SEGMENT by
    clamped perpendicular distance, plus the snap position along it.

    :func:`knn_snap` snaps to target POINTS; this operator snaps to
    segments (lat1, lon1)→(lat2, lon2). Candidates come from
    :func:`ring_candidates` — segments are rasterized to the cells they
    cross (:func:`polyline_cell_coverage`), each point explodes its
    k-ring and equi-joins on cell, so a point only ever sees segments
    passing near it, never a cross join. Points with no segment in the
    ring are omitted (re-run the residue with a larger ring, as for
    knn_snap).

    Distance dialect (oracle-exact): squared degree distance in the
    equirectangular (lat, lon) plane to the segment point at
    t* = clamp(((p−a)·(b−a)) / |b−a|², 0, 1); degenerate zero-length
    segments snap to their endpoint (t*=0). Closed-form shared-IEEE
    arithmetic — bit-identical in any engine. Production meters would
    swap in a haversine ranking exactly as knn_snap does.

    Returns (point_key, nearest_<seg_key>, t_permille):
    ``t_permille`` = floor(1000·t*) locates the snap along the winner
    for downstream stop-ordering / cursor alignment.

    Scale shape: rasterize (bounded fanout per segment) → ring-explode
    probe side only → cell equi join → per-pair closed-form math →
    :func:`argmin_struct`. A segment crossing several ring cells
    duplicates its (point, seg) pair; the min does not care, so no
    candidate-cardinality distinct runs (optimization r6, guide §2.4)."""
    cov = polyline_cell_coverage(
        segments, res=res, id_col=seg_key, oversample=oversample, max_steps=max_steps
    ).withColumnRenamed("cell_id", "_cell")
    cand_keys = ring_candidates(points.select(point_key, "lat", "lon"), cov, res, k_ring)
    seg = segments.select(
        F.col(seg_key),
        F.col("lat1").cast("double").alias("_a1"),
        F.col("lon1").cast("double").alias("_o1"),
        F.col("lat2").cast("double").alias("_a2"),
        F.col("lon2").cast("double").alias("_o2"),
    )
    cand = cand_keys.join(seg, seg_key)
    vx = F.col("_a2") - F.col("_a1")
    vy = F.col("_o2") - F.col("_o1")
    wx = F.col("lat") - F.col("_a1")
    wy = F.col("lon") - F.col("_o1")
    denom = vx * vx + vy * vy
    # explicit zero-length branch: engines disagree on double x/0
    # (Spark NULL, DuckDB inf) — both would otherwise diverge here
    t = F.when(denom == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), (wx * vx + wy * vy) / denom))
    )
    dx = F.col("lat") - (F.col("_a1") + t * vx)
    dy = F.col("lon") - (F.col("_o1") + t * vy)
    best = argmin_struct(
        cand,
        point_key,
        [(dx * dx + dy * dy).alias("d"), F.col(seg_key)],
        [F.floor(t * 1000).cast("long").alias("t_permille")],
    )
    return best.select(
        point_key, F.col(seg_key).alias(f"nearest_{seg_key}"), "t_permille"
    )


def within_distance_pairs(
    points: DataFrame,
    res: int,
    radius_deg: float,
    key_col: str = "stop_key",
    k_ring: int = 1,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Spatial SELF-join: every unordered pair of points within
    ``radius_deg`` (squared-degree Euclidean in the equirectangular
    plane), via :func:`ring_candidates` — never a cross join.

    The reference needs exactly this shape when it merges stop_area
    candidates by proximity (``osm2gtfs/core/osm_connector.py:258-283``
    walks all pairs serially); here the pair space is pruned to cells
    within Chebyshev ring ``k_ring`` before any distance math runs.
    ``radius_deg`` beyond the ring's reach raises (see
    :func:`ring_candidates`).

    Each unordered pair is emitted EXACTLY once as (key_a < key_b):
    the probe side explodes its ring, the build side carries its own
    single cell, so a pair is found only from the probe row whose ring
    contains the partner's cell — once per direction — and the key
    ordering keeps one direction.

    The oracle replay is the O(n^2) brute-force join — tractable only
    at gate scale, which is precisely the point: the bucketed plan must
    reproduce the quadratic semantics exactly.
    """
    probe = points.select(
        F.col(key_col).alias("key_a"),
        "lat",
        "lon",
        *[F.col(c).alias(f"a_{c}") for c in carry_cols],
    )
    build = points.select(
        F.col(key_col).alias("key_b"),
        F.col("lat").alias("_b_lat"),
        F.col("lon").alias("_b_lon"),
        *[F.col(c).alias(f"b_{c}") for c in carry_cols],
        cell_id("lat", "lon", res).alias("_cell"),
    )
    dlat = F.col("lat") - F.col("_b_lat")
    dlon = F.col("lon") - F.col("_b_lon")
    d2 = dlat * dlat + dlon * dlon
    return (
        ring_candidates(probe, build, res, k_ring, radius_deg)
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(d2 <= F.lit(radius_deg) * F.lit(radius_deg))
        .select(
            "key_a",
            "key_b",
            *[f"a_{c}" for c in carry_cols],
            *[f"b_{c}" for c in carry_cols],
        )
    )


def polygon_stats(
    polygons: DataFrame,
    id_col: str = "polygon_id",
    vertices_col: str = "vertices",
    int_scale: int | None = None,
) -> DataFrame:
    """Per-polygon shoelace area + centroid numerators over a polygon
    TABLE (vertices ``array<struct<lat,lon>>``, CCW, closed implicitly).

    Shoelace with lon as x, lat as y: each directed edge (v1→v2)
    contributes cross term c = x1·y2 − x2·y1; 2·area = Σc; the area
    centroid is (Σ(x1+x2)·c, Σ(y1+y2)·c) / (3·Σc).

    Two dialects:
    - ``int_scale=None`` (production): per-edge terms summed as doubles
      with ``F.aggregate`` over the vertex array — a sequential fold in
      vertex order, deterministic for a given row, no shuffle at all
      (per-row column math; area/centroid emitted as doubles).
    - ``int_scale=k`` (oracle-exact): per-edge terms floored to
      integers at scale k BEFORE summing, sums emitted as BIGINT
      (``area2_ek``, ``cx_num_ek``, ``cy_num_ek``) — addition order
      cannot change the result, so the DuckDB replay is hash-identical.
      Centroid = (cx_num / (3·area2), cy_num / (3·area2)) downstream.

    Scale shape: zero joins, zero shuffles — pure per-row codegen over
    the vertex array; 10^12 polygons stream through map tasks.
    """
    edges = _polygon_edges(vertices_col)

    def _cross(e):
        return e["v1"]["lon"] * e["v2"]["lat"] - e["v2"]["lon"] * e["v1"]["lat"]

    if int_scale is None:
        zero = F.lit(0.0)
        a2 = F.aggregate(edges, zero, lambda acc, e: acc + _cross(e))
        cx = F.aggregate(
            edges, zero, lambda acc, e: acc + (e["v1"]["lon"] + e["v2"]["lon"]) * _cross(e)
        )
        cy = F.aggregate(
            edges, zero, lambda acc, e: acc + (e["v1"]["lat"] + e["v2"]["lat"]) * _cross(e)
        )
        return polygons.select(
            F.col(id_col),
            (a2 / 2).alias("area_deg2"),
            (cx / (F.lit(3.0) * a2)).alias("centroid_lon"),
            (cy / (F.lit(3.0) * a2)).alias("centroid_lat"),
            F.size(vertices_col).alias("n_vertices"),
        )
    s = F.lit(float(int_scale))
    zero_l = F.lit(0).cast("long")
    a2 = F.aggregate(edges, zero_l, lambda acc, e: acc + F.floor(_cross(e) * s).cast("long"))
    cx = F.aggregate(
        edges,
        zero_l,
        lambda acc, e: acc
        + F.floor((e["v1"]["lon"] + e["v2"]["lon"]) * _cross(e) * s).cast("long"),
    )
    cy = F.aggregate(
        edges,
        zero_l,
        lambda acc, e: acc
        + F.floor((e["v1"]["lat"] + e["v2"]["lat"]) * _cross(e) * s).cast("long"),
    )
    return polygons.select(
        F.col(id_col),
        a2.alias("area2_scaled"),
        cx.alias("cx_num_scaled"),
        cy.alias("cy_num_scaled"),
        F.size(vertices_col).alias("n_vertices"),
    )


def convex_hull(
    points: DataFrame,
    group_col: str = "nationkey",
    key_col: str = "stop_key",
    x_col: str = "lon",
    y_col: str = "lat",
    max_iters: int = 64,
    max_edges: int = 100_000,
) -> DataFrame:
    """Distributed QuickHull: per-group convex hull VERTICES of a point
    set — the 'route-relation hull' builder the north star's
    point-in-polygon tests consume (the reference approximates hulls by
    hand-picked bboxes; this computes the real thing).

    Algorithm (QuickHull as a driver-bounded iteration, the same
    discipline as ``connected_components``): start from each group's
    lexicographic extreme points L, R (one ``min/max(struct(x,y,key))``
    aggregation — exact, deterministic); keep a small frontier of
    directed edges; each round ONE distributed job finds, per edge, the
    point strictly left of it that maximizes the cross product
    (``max(struct(cross, key))`` — map-side combined, deterministic
    tie-break), and the driver splits those edges. An edge with no
    strictly-left point is final. Expected rounds = O(log hull_size).

    Only the O(hull)-sized edge frontier ever reaches the driver
    (guarded by ``max_edges``); the point table stays distributed and
    is scanned once per round against a BROADCAST frontier — at 10^12
    points that is log-many map-only passes, no shuffle wider than the
    per-group argmax aggregation.

    Strictness dialect: collinear points interior to a hull edge are
    NOT vertices (cross > 0 is strict); a single-point group yields
    itself; a fully-collinear group yields its two extremes. All
    comparisons are exact IEEE products — the DuckDB oracle replays
    the identical recursion and must produce the identical edge set.

    Returns (group_col, key_col): the hull vertex set.
    """
    src = (
        points.select(
            F.col(group_col).alias("_g"),
            F.col(key_col).alias("_k"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        .persist()
    )
    try:
        ext = (
            src.groupBy("_g")
            .agg(
                F.min(F.struct("_x", "_y", "_k")).alias("lo"),
                F.max(F.struct("_x", "_y", "_k")).alias("hi"),
            )
            .collect()
        )
        pending: set[tuple] = set()
        for r in ext:
            lo, hi = r["lo"], r["hi"]
            pending.add((r["_g"], lo["_k"], lo["_x"], lo["_y"], hi["_k"], hi["_x"], hi["_y"]))
            pending.add((r["_g"], hi["_k"], hi["_x"], hi["_y"], lo["_k"], lo["_x"], lo["_y"]))
        edge_schema = (
            "_g long, akey long, ax double, ay double, bkey long, bx double, by double"
        )
        final: set[tuple] = set()
        it = 0
        while pending:
            it += 1
            if it > max_iters:
                raise RuntimeError(
                    f"convex_hull did not converge in {max_iters} rounds "
                    f"({len(pending)} edges still splitting)"
                )
            if len(pending) + len(final) > max_edges:
                raise RuntimeError(
                    f"edge frontier exceeds max_edges={max_edges} — "
                    f"group count × hull size larger than the driver guard"
                )
            edges_df = src.sparkSession.createDataFrame(sorted(pending), edge_schema)
            cross = (F.col("bx") - F.col("ax")) * (F.col("_y") - F.col("ay")) - (
                F.col("by") - F.col("ay")
            ) * (F.col("_x") - F.col("ax"))
            far = (
                src.join(F.broadcast(edges_df), "_g")
                .withColumn("_cr", cross)
                .filter(F.col("_cr") > 0)
                .groupBy("_g", "akey", "bkey")
                .agg(
                    F.max(
                        F.struct(
                            F.col("_cr").alias("c"),
                            F.col("_k").alias("k"),
                            F.col("_x").alias("x"),
                            F.col("_y").alias("y"),
                        )
                    ).alias("m")
                )
                .collect()
            )
            split_keys = {(r["_g"], r["akey"], r["bkey"]) for r in far}
            by_edge = {
                (r["_g"], r["akey"], r["bkey"]): r["m"] for r in far
            }
            nxt: set[tuple] = set()
            for e in pending:
                g, ak, ax, ay, bk, bx, by = e
                if (g, ak, bk) not in split_keys:
                    final.add(e)
                    continue
                m = by_edge[(g, ak, bk)]
                nxt.add((g, ak, ax, ay, m["k"], m["x"], m["y"]))
                nxt.add((g, m["k"], m["x"], m["y"], bk, bx, by))
            pending = nxt
        verts = sorted({(g, ak) for (g, ak, *_rest) in final})
        return src.sparkSession.createDataFrame(
            verts, f"{group_col} long, {key_col} long"
        )
    finally:
        src.unpersist()


def _dp_group(pdf, eps: float):
    """Classic iterative Douglas-Peucker over ONE polyline's pandas
    frame — the small-group kernel of :func:`simplify_polyline`.

    Bit-exact with the distributed frontier and the SQL oracle: every
    arithmetic step is the same IEEE-double expression in the same
    association order (cross², (eps·eps)·len2, strict >), and numpy
    float64 elementwise ops are IEEE — so the kept set is identical.
    Argmax tie-break = largest seq (reversed argmax picks the LAST
    maximum), matching ``max(struct(m, i))``.
    """
    import numpy as np
    import pandas as pd

    order = np.argsort(pdf["_i"].to_numpy(), kind="stable")
    seqs = pdf["_i"].to_numpy()[order]
    xs = pdf["_x"].to_numpy()[order]
    ys = pdf["_y"].to_numpy()[order]
    n = len(seqs)
    e2 = eps * eps
    kept: set[int] = set()
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            kept.add(lo)
            kept.add(hi)
            continue
        ax, ay, bx, by = xs[lo], ys[lo], xs[hi], ys[hi]
        len2 = (bx - ax) * (bx - ax) + (by - ay) * (by - ay)
        if len2 == 0.0:
            dx = xs[lo + 1 : hi] - ax
            dy = ys[lo + 1 : hi] - ay
            m = dx * dx + dy * dy
            th = e2
        else:
            cr = (bx - ax) * (ys[lo + 1 : hi] - ay) - (by - ay) * (xs[lo + 1 : hi] - ax)
            m = cr * cr
            th = e2 * len2
        j = len(m) - 1 - int(np.argmax(m[::-1]))
        if float(m[j]) > th:
            k = lo + 1 + j
            stack.append((lo, k))
            stack.append((k, hi))
        else:
            kept.add(lo)
            kept.add(hi)
    out = sorted(int(seqs[i]) for i in kept)
    return pd.DataFrame({"_g": [int(pdf["_g"].iloc[0])] * len(out), "_i": out})


def simplify_polyline(
    points: DataFrame,
    eps: float,
    group_col: str = "shape_id",
    seq_col: str = "seq",
    x_col: str = "lon",
    y_col: str = "lat",
    small_threshold: int = 100_000,
    max_iters: int = 64,
    max_ranges: int = 100_000,
) -> DataFrame:
    """Distributed Douglas-Peucker: per-polyline vertex subset whose
    chords never deviate more than ``eps`` (perpendicular line
    distance, equirectangular plane) — shape thinning for the GTFS
    shapes.txt the reference emits verbatim (``shapes_creator``; at
    10^12 points verbatim is not an option).

    Hybrid execution, same discipline as ``global_index``'s
    small-threshold fallback: polylines with ≤ ``small_threshold``
    vertices (virtually all of them) run the classic stack-based DP
    in ONE ``applyInPandas`` job — a single shuffle keyed by polyline,
    no driver loop. Only polylines LARGER than the threshold (a
    continent-length trace that would OOM one task) go through the
    broadcast-frontier loop: (group, i0, i1) chord ranges; each round
    one distributed job finds, per range, the interior vertex
    maximizing squared deviation (``max(struct(cross², seq))`` —
    map-side combined, deterministic tie-break on seq), keeps ranges
    whose maximum is within tolerance, and the driver splits the rest
    at their argmax. Rounds = O(log output); only the O(output)-sized
    frontier of the FEW giant polylines reaches the driver
    (``max_ranges`` guard) — the threshold is also what bounds the
    driver-side extents collect at 10^12-point scale.

    Exactness dialect (all three paths — kernel, frontier, oracle):
    deviation² > eps² is compared as cross² > (eps·eps)·|b−a|² — all
    IEEE products, no division, no sqrt — so the DuckDB oracle
    replays the identical recursion. A zero-length chord (duplicate
    anchor coords) falls back to squared point distance.

    Returns (group_col, seq_col): the kept vertices.
    """
    session = points.sparkSession
    src = (
        points.select(
            F.col(group_col).alias("_g"),
            F.col(seq_col).alias("_i"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        .persist()
    )
    try:
        big_rows = (
            src.groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > small_threshold)
            .select("_g")
            .collect()
        )
        big_ids = [r["_g"] for r in big_rows]
        small = src
        if big_ids:
            big_df = session.createDataFrame([(g,) for g in big_ids], "_g long")
            small = src.join(F.broadcast(big_df), "_g", "left_anti")
        small_kept = (
            small.groupBy("_g")
            .applyInPandas(lambda pdf: _dp_group(pdf, eps), "_g long, _i long")
            .select(F.col("_g").alias(group_col), F.col("_i").alias(seq_col))
        )
        if not big_ids:
            return small_kept
        big = src.join(
            F.broadcast(session.createDataFrame([(g,) for g in big_ids], "_g long")),
            "_g",
            "left_semi",
        )
        big_kept = _dp_frontier(big, eps, max_iters, max_ranges)
        return small_kept.unionByName(
            session.createDataFrame(big_kept, f"{group_col} long, {seq_col} long")
        )
    finally:
        src.unpersist()


def _dp_frontier(
    src: DataFrame, eps: float, max_iters: int, max_ranges: int
) -> list[tuple]:
    """Broadcast-frontier Douglas-Peucker over (_g,_i,_x,_y) rows —
    the giant-polyline path of :func:`simplify_polyline`. Returns the
    kept (group, seq) pairs (driver-bounded by ``max_ranges``)."""
    ext = (
        src.groupBy("_g")
        .agg(
            F.min(F.struct("_i", "_x", "_y")).alias("lo"),
            F.max(F.struct("_i", "_x", "_y")).alias("hi"),
        )
        .collect()
    )
    pending: set[tuple] = set()
    for r in ext:
        lo, hi = r["lo"], r["hi"]
        pending.add((r["_g"], lo["_i"], lo["_x"], lo["_y"], hi["_i"], hi["_x"], hi["_y"]))
    range_schema = (
        "_g long, i0 long, ax double, ay double, i1 long, bx double, by double"
    )
    final: set[tuple] = set()
    it = 0
    while pending:
        it += 1
        if it > max_iters:
            raise RuntimeError(
                f"simplify_polyline did not converge in {max_iters} rounds"
            )
        if len(pending) + len(final) > max_ranges:
            raise RuntimeError(
                f"range frontier exceeds max_ranges={max_ranges}"
            )
        ranges_df = src.sparkSession.createDataFrame(sorted(pending), range_schema)
        len2 = (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax")) + (
            F.col("by") - F.col("ay")
        ) * (F.col("by") - F.col("ay"))
        cross = (F.col("bx") - F.col("ax")) * (F.col("_y") - F.col("ay")) - (
            F.col("by") - F.col("ay")
        ) * (F.col("_x") - F.col("ax"))
        dx = F.col("_x") - F.col("ax")
        dy = F.col("_y") - F.col("ay")
        m = F.when(len2 == 0, dx * dx + dy * dy).otherwise(cross * cross)
        thresh = F.when(len2 == 0, F.lit(eps * eps)).otherwise(F.lit(eps) * F.lit(eps) * len2)
        far = (
            src.join(F.broadcast(ranges_df), "_g")
            .filter((F.col("_i") > F.col("i0")) & (F.col("_i") < F.col("i1")))
            .withColumn("_m", m)
            .withColumn("_th", thresh)
            .groupBy("_g", "i0", "i1")
            .agg(
                F.max(
                    F.struct(
                        F.col("_m").alias("m"),
                        F.col("_i").alias("i"),
                        F.col("_x").alias("x"),
                        F.col("_y").alias("y"),
                    )
                ).alias("mx"),
                F.first("_th").alias("th"),
            )
            .filter(F.col("mx.m") > F.col("th"))
            .collect()
        )
        split = {(r["_g"], r["i0"], r["i1"]): r["mx"] for r in far}
        nxt: set[tuple] = set()
        for e in pending:
            g, i0, ax, ay, i1, bx, by = e
            mx = split.get((g, i0, i1))
            if mx is None:
                final.add(e)
            else:
                nxt.add((g, i0, ax, ay, mx["i"], mx["x"], mx["y"]))
                nxt.add((g, mx["i"], mx["x"], mx["y"], i1, bx, by))
        pending = nxt
    return sorted(
        {(g, i0) for (g, i0, *_r) in final}
        | {(g, i1) for (g, _a, _b, _c, i1, *_r) in final}
    )


def polyline_chainage(
    points: DataFrame,
    group_col: str = "shape_id",
    seq_col: str = "seq",
    x_col: str = "lon",
    y_col: str = "lat",
    int_scale: int | None = None,
) -> DataFrame:
    """Cumulative distance along each polyline (the shape_dist_traveled
    column of GTFS shapes.txt, reference ``shapes_creator``): per-vertex
    running sum of planar segment lengths, as ONE ordered window per
    group — no joins, no driver loop.

    ``int_scale=k`` is the oracle-exact dialect: each segment length is
    ``floor(sqrt(dx²+dy²)·k)`` — IEEE sqrt is correctly rounded, so the
    per-segment BIGINT is bit-identical in any engine, and integer
    cumulative sums are order-independent. ``int_scale=None`` keeps
    doubles (production; meters would swap in haversine).

    Scale shape: one shuffle keyed by group (the window partition);
    within-partition sort by seq — the same cost profile as W2
    stop_sequence numbering.
    """
    w = Window.partitionBy(group_col).orderBy(seq_col)
    dx = F.col(x_col) - F.lag(x_col).over(w)
    dy = F.col(y_col) - F.lag(y_col).over(w)
    step = F.sqrt(dx * dx + dy * dy)
    if int_scale is None:
        chain = F.sum(F.coalesce(step, F.lit(0.0))).over(w)
        return points.withColumn("chainage", chain)
    step_i = F.floor(step * F.lit(float(int_scale))).cast("long")
    chain = F.sum(F.coalesce(step_i, F.lit(0).cast("long"))).over(w)
    return points.withColumn("chainage_scaled", chain)


def _map_match_trace(pdf):
    """Greedy monotone map-matching of ONE ordered trace — the
    per-group kernel of :func:`map_match_polyline`.

    Candidates arrive pre-joined (obs × same-shape segments); per
    observation in seq order, pick the minimum re-clamped squared
    distance among segments whose span ends at-or-after the cursor,
    tie-break smallest seg_id (candidate arrays are seg_id-sorted, so
    numpy's first-min IS that tie-break); the cursor advances to the
    winner's integer chainage position. All arithmetic is the same
    IEEE-double expression tree as the recursive SQL oracle.
    """
    import numpy as np
    import pandas as pd

    segs = (
        pdf.drop_duplicates(subset=["seg_id"]).sort_values("seg_id")
    )
    a1 = segs["lat1"].to_numpy(dtype=np.float64)
    o1 = segs["lon1"].to_numpy(dtype=np.float64)
    a2 = segs["lat2"].to_numpy(dtype=np.float64)
    o2 = segs["lon2"].to_numpy(dtype=np.float64)
    c = segs["chain_start"].to_numpy(dtype=np.int64)
    L = segs["seg_len"].to_numpy(dtype=np.int64)
    seg_ids = segs["seg_id"].to_numpy(dtype=np.int64)
    Ld = L.astype(np.float64)
    da, do = a2 - a1, o2 - o1
    len2 = da * da + do * do
    safe_len2 = np.where(len2 == 0.0, 1.0, len2)

    obs = pdf.drop_duplicates(subset=["obs_seq"]).sort_values("obs_seq")
    out_seq, out_seg, out_p, out_d2 = [], [], [], []
    cursor = np.int64(0)
    for _, row in obs.iterrows():
        plat, plon = row["_plat"], row["_plon"]
        dot = (plat - a1) * da + (plon - o1) * do
        t_star = np.where(
            len2 == 0.0, 0.0, np.minimum(1.0, np.maximum(0.0, dot / safe_len2))
        )
        t_min = np.where(
            L == 0,
            0.0,
            np.minimum(1.0, np.maximum(0.0, (cursor - c).astype(np.float64) / np.where(L == 0, 1.0, Ld))),
        )
        t_c = np.minimum(1.0, np.maximum(t_min, t_star))
        pa = a1 + t_c * da
        po = o1 + t_c * do
        d2 = (plat - pa) * (plat - pa) + (plon - po) * (plon - po)
        elig = (c + L) >= cursor
        d2_sel = np.where(elig, d2, np.inf)
        j = int(np.argmin(d2_sel))
        p_new = np.int64(c[j]) + np.int64(np.floor(t_c[j] * Ld[j]))
        cursor = p_new
        out_seq.append(int(row["obs_seq"]))
        out_seg.append(int(seg_ids[j]))
        out_p.append(int(p_new))
        out_d2.append(float(d2_sel[j]))
    return pd.DataFrame(
        {
            "trace_id": [int(pdf["trace_id"].iloc[0])] * len(out_seq),
            "obs_seq": out_seq,
            "seg_id": out_seg,
            "p_scaled": out_p,
            "d2": out_d2,
        }
    )


def map_match_polyline(
    obs: DataFrame,
    segments: DataFrame,
    shape_col: str = "shape_id",
) -> DataFrame:
    """Monotone map-matching: ordered observation traces (GPS pings)
    snap onto their route polyline with a forward-only cursor — each
    observation matches the nearest segment POSITION at-or-after the
    previous match (re-clamped projection), the geometric twin of the
    J7 stop↔schedule cursor alignment, for realtime vehicle positions
    against the shapes this engine emits.

    ``obs``: (trace_id, obs_seq, lat, lon, shape_col) — one route
    shape per trace. ``segments``: (shape_col, seg_id, lat1, lon1,
    lat2, lon2, chain_start, seg_len) with integer chainage as built
    from :func:`polyline_chainage` (seg_len = next chain − chain).

    Scale shape: ONE equi join keyed by shape (candidates = obs ×
    own-shape segments, never corpus-wide), then one applyInPandas
    keyed by trace — state lives inside the kernel, bounded by a
    single trace's (obs + segments). Skew = the densest single trace.

    Dialect (oracle-exact, replayed by a recursive CTE): t* =
    clamp(dot/len2, 0, 1); t_min = clamp((cursor−c)/L, 0, 1);
    t_c = min(1, max(t_min, t*)); winner = min (d2, seg_id); cursor'
    = c + floor(t_c·L). A zero-length segment is eligible iff its
    position ≥ cursor and contributes its endpoint.

    Returns (trace_id, obs_seq, seg_id, p_scaled, d2).
    """
    cand = obs.select(
        "trace_id",
        "obs_seq",
        shape_col,
        F.col("lat").cast("double").alias("_plat"),
        F.col("lon").cast("double").alias("_plon"),
    ).join(segments, shape_col)
    return cand.groupBy("trace_id").applyInPandas(
        _map_match_trace,
        "trace_id long, obs_seq long, seg_id long, p_scaled long, d2 double",
    )


def hausdorff_pairs(
    pairs: DataFrame,
    points: DataFrame,
    pair_col: str = "pair_id",
    a_col: str = "group_a",
    b_col: str = "group_b",
    group_col: str = "shape_id",
    seq_col: str = "seq",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Exact directed Hausdorff distances between explicit polyline
    pairs — master↔variant route-shape QA ('how far does this variant
    stray from its master geometry?', the quantitative form of the
    reference's master/variant reconciliation).

    h(A→B) = max over a∈A of min over b∈B of squared planar distance
    (equirectangular, degree units — monotone in true distance, so
    argmax/argmin are the same as metric Hausdorff). Computed exactly:
    the candidate join is keyed by pair_id, so cost is |A|·|B| PER
    PAIR, never a corpus cross join — the right exact baseline when
    shapes are bounded (hundreds–thousands of vertices); skew is the
    longest single pair. Both aggregations are two-phase (map-side
    combined min then max); min/max over IEEE doubles are comparisons
    only, bit-stable in any engine.

    Returns (pair_col, h_ab, h_ba, h_sym): squared-distance doubles,
    h_sym = max(h_ab, h_ba).
    """
    def side(gcol: str, px: str, py: str, ps: str) -> DataFrame:
        return pairs.select(pair_col, F.col(gcol).alias("_g")).join(
            points.select(
                F.col(group_col).alias("_g"),
                F.col(seq_col).alias(ps),
                F.col(x_col).cast("double").alias(px),
                F.col(y_col).cast("double").alias(py),
            ),
            "_g",
        ).drop("_g")

    va = side(a_col, "_ax", "_ay", "_as")
    vb = side(b_col, "_bx", "_by", "_bs")
    d2 = (F.col("_ax") - F.col("_bx")) * (F.col("_ax") - F.col("_bx")) + (
        F.col("_ay") - F.col("_by")
    ) * (F.col("_ay") - F.col("_by"))
    j = va.join(vb, pair_col).withColumn("_d2", d2)
    h_ab = (
        j.groupBy(pair_col, "_as")
        .agg(F.min("_d2").alias("_m"))
        .groupBy(pair_col)
        .agg(F.max("_m").alias("h_ab"))
    )
    h_ba = (
        j.groupBy(pair_col, "_bs")
        .agg(F.min("_d2").alias("_m"))
        .groupBy(pair_col)
        .agg(F.max("_m").alias("h_ba"))
    )
    return (
        h_ab.join(h_ba, pair_col)
        .withColumn("h_sym", F.greatest("h_ab", "h_ba"))
    )


def resample_polyline(
    points: DataFrame,
    step_scaled: int,
    group_col: str = "shape_id",
    seq_col: str = "seq",
    x_col: str = "lon",
    y_col: str = "lat",
    int_scale: int = 1_000_000,
) -> DataFrame:
    """Equal-interval resampling of each polyline: one output point at
    every multiple of ``step_scaled`` along the integer chainage
    (shape densification / GPS-trace normalization — the inverse of
    :func:`simplify_polyline`).

    Built on :func:`polyline_chainage`: each vertex row carries its
    cumulative integer chainage; the segment to the NEXT vertex owns
    the targets k·step in [chain, next_chain) — half-open, so a target
    landing exactly on a vertex is emitted once, by the segment it
    starts. The whole operator is the chainage window plus a map-side
    ``sequence`` explode — no joins; fanout per segment is
    seg_len/step (caller controls the step).

    Position dialect (oracle-exact): t = (k·step − chain)/seg_len with
    both operands BIGINT cast to double (one IEEE divide), point =
    a + t·(b−a) — the same closed form as snap_to_polyline.

    Returns (group_col, k, x_col, y_col): k = target index, coords as
    doubles.
    """
    ch = polyline_chainage(
        points, group_col=group_col, seq_col=seq_col, x_col=x_col, y_col=y_col,
        int_scale=int_scale,
    )
    w = Window.partitionBy(group_col).orderBy(seq_col)
    sg = ch.select(
        group_col,
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
        F.col("chainage_scaled").alias("_c"),
        F.lead(x_col).over(w).alias("_nx"),
        F.lead(y_col).over(w).alias("_ny"),
        F.lead("chainage_scaled").over(w).alias("_nc"),
    )
    r = int(step_scaled)
    k_lo = F.expr(f"(_c + {r} - 1) div {r}")
    k_hi = F.expr(f"(_nc - 1) div {r}")
    tg = (
        # a zero-length segment owns no targets ([c, nc) empty); the
        # filter also keeps k_hi's `div` away from negative operands,
        # where Spark truncates but SQL floor-divides
        sg.filter(F.col("_nc").isNotNull() & (F.col("_nc") > F.col("_c")))
        .withColumn("_klo", k_lo)
        .withColumn("_khi", k_hi)
        .filter(F.col("_klo") <= F.col("_khi"))
        .withColumn("k", F.explode(F.sequence(F.col("_klo"), F.col("_khi"))))
    )
    t = (F.col("k") * F.lit(r) - F.col("_c")).cast("double") / (
        F.col("_nc") - F.col("_c")
    ).cast("double")
    return tg.select(
        group_col,
        "k",
        (F.col("_x") + t * (F.col("_nx") - F.col("_x"))).alias(x_col),
        (F.col("_y") + t * (F.col("_ny") - F.col("_y"))).alias(y_col),
    )


def raster_regions(
    cells: DataFrame,
    res: int,
    cell_col: str = "cell_id",
    max_iters: int = 25,
) -> DataFrame:
    """Raster→VECTOR region extraction: connected regions of an
    occupied-cell set under 4-neighbor adjacency, plus the boundary
    flag per cell — the inverse direction of :func:`tile_coverage` /
    :func:`polyline_cell_coverage` (which go vector→raster). Regions
    feed coverage-map vectorization (one label per contiguous served
    area); boundary cells are the region outline.

    Returns (cell_id, region_id, is_boundary): region_id = the min
    cell id in the region (deterministic); is_boundary = fewer than 4
    DISTINCT occupied 4-neighbors (grid edges count as unoccupied;
    longitude wraps at the antimeridian, matching :func:`cell_ring`;
    at res ≤ 1 the wrap neighbors coincide and are deduplicated).
    ``cells`` must be encoded at exactly ``res`` (the same contract as
    :func:`cell_ring` / ``cell_parent`` — ids embed their resolution).

    Scale shape: neighbor ids are closed-form arithmetic (explode ≤ 4
    per cell) → self equi join on cell id gives the edge list (≈ 2
    edges per interior cell, never quadratic) → the SAME min-label
    pointer-jumping connected components the dedup family uses
    (O(log diameter) rounds, two vertex-id shuffles per round) →
    singleton cells rejoin with their own id as region."""
    from osm2gtfs_spark.functions.geo import MAX_RES
    from osm2gtfs_spark.operators.dedup import connected_components

    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    n = 2**res
    base = cells.select(F.col(cell_col).alias("cell_id")).distinct()
    c = F.col("cell_id") - F.lit(res).cast("long") * F.lit(_RES_SHIFT)
    ix = F.floor(c / F.lit(_IX_SHIFT)).cast("long")
    iy = (c % F.lit(_IX_SHIFT)).cast("long")
    mk = (
        lambda nx, ny: F.lit(res).cast("long") * F.lit(_RES_SHIFT)
        + nx * F.lit(_IX_SHIFT)
        + ny
    )
    # distinct + self-excluded (review r5): at res<=1 the east and west
    # wrap neighbors coincide (and at res 0 equal the cell itself) —
    # without dedup the degree overcounts and boundary flags lie
    neighbors = F.filter(
        F.array_distinct(
            F.array_compact(
                F.array(
                    mk(F.pmod(ix + 1, F.lit(n)), iy),
                    mk(F.pmod(ix - 1, F.lit(n)), iy),
                    F.when(iy + 1 < n, mk(ix, iy + 1)),
                    F.when(iy - 1 >= 0, mk(ix, iy - 1)),
                )
            )
        ),
        lambda x: x != F.col("cell_id"),
    )
    nbr = base.select("cell_id", F.explode(neighbors).alias("_nbr"))
    # occupied neighbors only: equi join against the set itself
    occ_nbr = nbr.join(
        base.select(F.col("cell_id").alias("_nbr")), "_nbr"
    ).select("cell_id", "_nbr")
    degree = occ_nbr.groupBy("cell_id").agg(F.count(F.lit(1)).alias("_deg"))
    comps = connected_components(
        occ_nbr.filter(F.col("cell_id") < F.col("_nbr")),
        id_a="cell_id",
        id_b="_nbr",
        max_iters=max_iters,
    ).select(F.col("doc_id").alias("cell_id"), F.col("component_id").alias("_rid"))
    return (
        base.join(comps, "cell_id", "left")
        .join(degree, "cell_id", "left")
        .select(
            "cell_id",
            F.coalesce(F.col("_rid"), F.col("cell_id")).alias("region_id"),
            (F.coalesce(F.col("_deg"), F.lit(0)) < 4).alias("is_boundary"),
        )
    )


# ---------------------------------------------------------------------------
# Segment intersection join / trace dwell detection / turn classification
# ---------------------------------------------------------------------------

def _segment_cells(
    seg: DataFrame, id_col: str, res: int, max_cells: int, prefix: str
) -> DataFrame:
    """One row per (segment, covering bbox cell ``_cell``, a standard
    :func:`~osm2gtfs_spark.functions.geo.cell_id`). The cover is the full
    integer rectangle [min_ix..max_ix] × [min_iy..max_iy] of the
    segment's endpoints — a complete superset of every cell the segment
    touches (two intersecting segments meet at a point inside BOTH
    bboxes, hence inside a shared cell), unlike sampled rasterization
    which can corner-cut. Fanout is (w+1)(h+1); a segment whose cover
    exceeds ``max_cells`` fails the job loudly (res too fine for the
    segment lengths) instead of silently exploding a task.

    Limitation: the cover is the ix/iy RECTANGLE between endpoints, so
    a segment with |lon2 − lon1| > 180 is covered the long way around,
    through every longitude column between its endpoints, not the
    short way across ±180. Nothing in the engine splits such segments:
    a pair that meets only across ±180 is missed, and the long-way
    width counts against ``max_cells``."""
    p = prefix
    ix1, ix2 = cell_ix(f"{p}lon1", res), cell_ix(f"{p}lon2", res)
    iy1, iy2 = cell_iy(f"{p}lat1", res), cell_iy(f"{p}lat2", res)
    lo_x, hi_x = F.least(ix1, ix2), F.greatest(ix1, ix2)
    lo_y, hi_y = F.least(iy1, iy2), F.greatest(iy1, iy2)
    n_cells = (hi_x - lo_x + 1) * (hi_y - lo_y + 1)
    guard = F.when(
        n_cells > max_cells,
        F.raise_error(
            F.concat(
                F.lit(f"segment bbox cover exceeds max_cells={max_cells} "
                      f"at res={res}: "),
                n_cells.cast("string"),
            )
        ).cast("long"),
    ).otherwise(hi_x)
    cells = F.flatten(
        F.transform(
            F.sequence(lo_x, guard),
            lambda ix: F.transform(
                F.sequence(lo_y, hi_y),
                lambda iy: F.lit(res).cast("long") * F.lit(_RES_SHIFT)
                + ix * F.lit(_IX_SHIFT)
                + iy,
            ),
        )
    )
    # materialize the cover array in its own Project BEFORE exploding:
    # GenerateExec re-evaluates an inline generator child per OUTPUT
    # row, turning the O(cells) construction into O(cells^2) per
    # segment (the same pitfall fixed for minhash shingles in r4)
    with_cells = _map_parallelism_floor(
        seg.select(id_col, f"{p}lat1", f"{p}lon1", f"{p}lat2", f"{p}lon2")
    ).select(
        id_col, f"{p}lat1", f"{p}lon1", f"{p}lat2", f"{p}lon2",
        cells.alias("_cells"),
    )
    return with_cells.select(
        id_col, f"{p}lat1", f"{p}lon1", f"{p}lat2", f"{p}lon2",
        F.explode("_cells").alias("_cell"),
    )


def segment_intersections(
    seg_a: DataFrame,
    seg_b: DataFrame,
    res: int = 8,
    int_scale: int = 1_000_000,
    max_cells: int = 256,
) -> DataFrame:
    """(a_id, b_id, t_permille, u_permille): every properly-intersecting
    pair between two segment sets, with the intersection's parametric
    position on each segment in integer permille.  Input contract: the
    FIRST column of each input is that side's id; coordinate columns
    are (lat1, lon1, lat2, lon2).

    Exact arithmetic: endpoints are floored to ``int_scale``-scaled
    integers, the test is pure 64-bit cross-product sign math
    (den = r×s, t = (q−p)×s / den, u = (q−p)×r / den; proper crossing
    ⇔ den≠0 ∧ 0<t_num<den ∧ 0<u_num<den after normalizing den>0) — no
    floats, so the DuckDB oracle reproduces every bit. Touching or
    collinear-overlapping pairs are excluded by definition (open
    interval), which keeps the predicate deterministic. Overflow
    bound: |cross| ≤ 2·max|scaled coord|·max|scaled delta|; at the
    default scale any two points on Earth stay < 2^63 for deltas up to
    ~4°; pass a smaller ``int_scale`` for intercontinental segments.

    Scale shape: candidates come from equi-joining complete bbox-cell
    covers (:func:`_segment_cells`) — shuffle keyed by cell id, never a
    cross join; duplicate candidates from multi-cell overlap are
    dropped by a distinct on the pair key before the exact test. The
    oracle replay is the brute-force quadratic join with a bbox
    prefilter — tractable only at gate scale, which is the point: the
    bucketed plan must reproduce the quadratic semantics exactly.

    Reference analog: none (the reference never intersects ways); this
    is the missing geometric-join primitive of the north rule's
    spatial-join family.
    """
    inputs = {"a": seg_a, "b": seg_b}
    sides = {}
    for p, seg in inputs.items():
        named = seg.select(
            F.col(seg.columns[0]).alias(f"{p}_id"),
            F.col("lat1").alias(f"_{p}lat1"),
            F.col("lon1").alias(f"_{p}lon1"),
            F.col("lat2").alias(f"_{p}lat2"),
            F.col("lon2").alias(f"_{p}lon2"),
        )
        sides[p] = _segment_cells(named, f"{p}_id", res, max_cells, f"_{p}")
    # exact test FIRST, dedupe LAST: the sign test is cheap codegen, so
    # running it per (pair x shared cell) and deduping only the ACTUAL
    # crossings (t/u identical across duplicates) shrinks the distinct's
    # shuffle from every candidate to the result set itself
    cand = sides["a"].join(sides["b"], "_cell").drop("_cell")
    s = float(int_scale)
    px, py = F.floor(F.col("_alon1") * s), F.floor(F.col("_alat1") * s)
    rx = F.floor(F.col("_alon2") * s) - px
    ry = F.floor(F.col("_alat2") * s) - py
    qx, qy = F.floor(F.col("_blon1") * s), F.floor(F.col("_blat1") * s)
    sx = F.floor(F.col("_blon2") * s) - qx
    sy = F.floor(F.col("_blat2") * s) - qy
    qpx, qpy = qx - px, qy - py
    den0 = rx * sy - ry * sx
    t0 = qpx * sy - qpy * sx
    u0 = qpx * ry - qpy * rx
    sign = F.when(den0 < 0, F.lit(-1)).otherwise(F.lit(1))
    den, t_num, u_num = den0 * sign, t0 * sign, u0 * sign
    return (
        cand.withColumn("_den", den)
        .withColumn("_tn", t_num)
        .withColumn("_un", u_num)
        .filter(
            (F.col("_den") != 0)
            & (F.col("_tn") > 0) & (F.col("_tn") < F.col("_den"))
            & (F.col("_un") > 0) & (F.col("_un") < F.col("_den"))
        )
        .select(
            "a_id",
            "b_id",
            F.expr("(_tn * 1000) div _den").alias("t_permille"),
            F.expr("(_un * 1000) div _den").alias("u_permille"),
        )
        .distinct()
    )


def dwell_detect(
    traces: DataFrame,
    step_thr: float,
    min_run: int = 3,
    int_scale: int = 1_000_000,
    trace_col: str = "trace_id",
    seq_col: str = "obs_seq",
) -> DataFrame:
    """(trace_id, dwell_id, start_seq, end_seq, n_points): maximal runs
    of ≥ ``min_run`` consecutive observations whose step distance stays
    ≤ ``step_thr`` degrees — the stopped/dwelling episodes of a vehicle
    trace (depot holds, terminal layovers, traffic standstill).
    Observations must carry unique ``seq_col`` values per trace (the
    window order key).

    A dwell of k points covers k−1 small steps, so a run of n small
    steps yields n+1 points and the threshold is on STEPS: runs with
    n ≥ min_run − 1 qualify. Step smallness is exact integer math on
    ``int_scale``-scaled coordinates (dx² + dy² ≤ thr²), so the oracle
    agrees bit-for-bit. Run segmentation is the standard gaps-and-
    islands window: a break flag, its prefix sum as run id, one
    aggregate — two per-trace windows, no Python, skew bounded by the
    longest trace (same bound as every per-key window here)."""
    thr2 = int(step_thr * int_scale) ** 2
    s = float(int_scale)
    w = Window.partitionBy(trace_col).orderBy(seq_col)
    x, y = F.floor(F.col("lon") * s), F.floor(F.col("lat") * s)
    dx = x - F.lag(x).over(w)
    dy = y - F.lag(y).over(w)
    small = (dx * dx + dy * dy) <= F.lit(thr2)
    stepped = traces.select(
        trace_col,
        seq_col,
        small.alias("_small"),
        F.lag(seq_col).over(w).alias("_prev_seq"),
    ).filter(F.col("_small").isNotNull())
    brk = F.when(
        F.col("_small")
        & F.coalesce(F.lag("_small").over(w), F.lit(False)),
        F.lit(0),
    ).otherwise(F.lit(1))
    runs = stepped.withColumn(
        "_run", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).filter(F.col("_small"))
    agg = runs.groupBy(trace_col, "_run").agg(
        F.min("_prev_seq").alias("start_seq"),
        F.max(seq_col).alias("end_seq"),
        (F.count(F.lit(1)) + 1).alias("n_points"),
    ).filter(F.col("n_points") >= min_run)
    wo = Window.partitionBy(trace_col).orderBy("start_seq")
    return agg.select(
        trace_col,
        F.row_number().over(wo).alias("dwell_id"),
        "start_seq",
        "end_seq",
        "n_points",
    )


def turn_classify(
    verts: DataFrame,
    straight_eps_deg2: float = 0.0,
    int_scale: int = 1_000_000,
    shape_col: str = "shape_id",
    seq_col: str = "seq",
) -> DataFrame:
    """(shape_id, seq, turn): per interior vertex, whether the polyline
    turns 'L', 'R' or runs 'S'traight there — the sign of the integer
    cross product of the incoming and outgoing direction vectors on
    ``int_scale``-scaled coordinates (exact, trig-free; bearings via
    atan2 would differ at ulp level between engines, the sign never
    does). ``straight_eps_deg2`` deadbands near-collinear jitter: |cross|
    ≤ eps·scale² classifies as straight. One per-shape window pass
    (lag + lead), pure codegen."""
    eps = int(straight_eps_deg2 * int_scale * int_scale)
    s = float(int_scale)
    w = Window.partitionBy(shape_col).orderBy(seq_col)
    x, y = F.floor(F.col("lon") * s), F.floor(F.col("lat") * s)
    ax = x - F.lag(x).over(w)
    ay = y - F.lag(y).over(w)
    bx = F.lead(x).over(w) - x
    by = F.lead(y).over(w) - y
    cross = ax * by - ay * bx
    turn = (
        F.when(F.abs(cross) <= F.lit(eps), F.lit("S"))
        .when(cross > 0, F.lit("L"))
        .otherwise(F.lit("R"))
    )
    return (
        verts.select(shape_col, seq_col, cross.alias("_c"), turn.alias("turn"))
        .filter(F.col("_c").isNotNull())
        .select(shape_col, seq_col, "turn")
    )


def corridor_match(
    points: DataFrame,
    segments: DataFrame,
    res: int,
    radius_deg: float,
    k_ring: int = 1,
    point_key: str = "stop_key",
    route_col: str = "route_id",
    max_cells: int = 256,
) -> DataFrame:
    """(point_key, route_id): every point lying within ``radius_deg``
    (clamped perpendicular degree distance) of ANY segment of a route's
    geometry — the corridor containment query ("which stops does this
    route pass?"), the set-valued sibling of :func:`snap_to_polyline`'s
    argmin.

    Completeness is by construction, not sampling: segments contribute
    their full bbox-cell cover (:func:`_segment_cells` — a superset of
    every touched cell), points explode their Chebyshev ``k_ring``; the
    nearest segment point to a hit lies in a covered cell within ring
    reach, so no hit can be missed — provided ``radius_deg ≤ k_ring ·
    cell_dim``, which :func:`ring_candidates` validates up front.
    Distance dialect is :func:`snap_to_polyline`'s (shared-IEEE closed
    form, explicit zero-length branch). Scale shape: :func:`ring_candidates`, then a
    distinct on (point, route) — never a cross join."""
    # the cover CARRIES the segment coords (no synthetic segment id, no
    # join-back — a generated id evaluated in two plan branches is a
    # correctness hazard under re-computation)
    named = segments.select(
        F.col(route_col),
        F.col("lat1").cast("double").alias("_slat1"),
        F.col("lon1").cast("double").alias("_slon1"),
        F.col("lat2").cast("double").alias("_slat2"),
        F.col("lon2").cast("double").alias("_slon2"),
    )
    cov = _segment_cells(named, route_col, res, max_cells, "_s")
    cand = ring_candidates(
        points.select(point_key, "lat", "lon"), cov, res, k_ring, radius_deg
    ).distinct()
    vx = F.col("_slat2") - F.col("_slat1")
    vy = F.col("_slon2") - F.col("_slon1")
    wx = F.col("lat") - F.col("_slat1")
    wy = F.col("lon") - F.col("_slon1")
    denom = vx * vx + vy * vy
    t = F.when(denom == 0, F.lit(0.0)).otherwise(
        F.greatest(F.lit(0.0), F.least(F.lit(1.0), (wx * vx + wy * vy) / denom))
    )
    dx = F.col("lat") - (F.col("_slat1") + t * vx)
    dy = F.col("lon") - (F.col("_slon1") + t * vy)
    hit = cand.filter(dx * dx + dy * dy <= F.lit(radius_deg) * F.lit(radius_deg))
    return hit.select(point_key, route_col).distinct()


def idw_grid(
    obs: DataFrame,
    grid: DataFrame,
    res: int,
    k_ring: int = 1,
    value_col: str = "value",
    grid_key: str = "gid",
    int_scale: int = 1_000_000,
    w_scale: int = 10**12,
) -> DataFrame:
    """(gid, n_obs, pred): inverse-distance-weighted interpolation of an
    integer observation field onto grid points, neighborhood-bounded —
    the coverage/heat surface estimator of the tiling family.

    Each grid point sees only observations in its Chebyshev ``k_ring``
    cell neighborhood (:func:`ring_candidates`, the grid as probe —
    never a cross join; estimator support is deliberately local, the
    standard practice for IDW at scale).
    Weights are EXACT integers: w = w_scale div (1 + d²_scaled) on
    ``int_scale``-floored coordinates, pred = Σw·v div Σw — every bit
    reproducible by the oracle; an observation coincident with the grid
    point dominates at weight w_scale. Overflow bound: Σw·v ≤
    neighbors · w_scale · max|v| — keep w_scale·max|v| ≤ ~10¹⁴ for
    10⁴-point neighborhoods."""
    s = float(int_scale)
    o = obs.select(
        F.floor(F.col("lon") * s).alias("_ox"),
        F.floor(F.col("lat") * s).alias("_oy"),
        F.col(value_col).alias("_v"),
        cell_id("lat", "lon", res).alias("_cell"),
    )
    g = grid.select(
        F.col(grid_key),
        "lat",
        "lon",
        F.floor(F.col("lon") * s).alias("_gx"),
        F.floor(F.col("lat") * s).alias("_gy"),
    )
    d2 = (F.col("_ox") - F.col("_gx")) * (F.col("_ox") - F.col("_gx")) + (
        F.col("_oy") - F.col("_gy")
    ) * (F.col("_oy") - F.col("_gy"))
    w = F.expr(f"{w_scale} div (1 + _d2)")
    pairs = ring_candidates(g, o, res, k_ring).withColumn("_d2", d2).withColumn("_w", w)
    agg = pairs.groupBy(grid_key).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("_w") * F.col("_v")).alias("_wv"),
        F.sum("_w").alias("_wsum"),
    )
    return agg.filter(F.col("_wsum") > 0).select(
        grid_key, "n_obs", F.expr("_wv div _wsum").alias("pred")
    )


def focal_sum(
    cell_counts: DataFrame,
    res: int,
    k_ring: int = 1,
    cell_col: str = "cell_id",
    value_col: str = "n",
) -> DataFrame:
    """(cell_id, n_self, focal_sum): for every occupied cell, the sum of
    a value over its Chebyshev ``k_ring`` neighborhood — the focal
    (moving-window) raster statistic that smooths a tile-coverage or
    density surface before hotspot detection.

    SCATTER shape, not gather: each occupied cell explodes its ring
    once (:func:`ring_neighbors`) and contributes its value to each
    neighbor position, then one map-side-combined sum per target cell;
    an inner join back to the occupied set keeps the support identical
    to the input raster.
    Cost is 9·|occupied| rows (k=1) regardless of grid size — empty
    cells are never materialized. Integer in, integer out."""
    contrib = ring_neighbors(
        cell_counts.select(cell_col, F.col(value_col).alias("_v")), res, k_ring, cell_col
    )
    sums = contrib.groupBy(cell_col).agg(F.sum("_v").alias("focal_sum"))
    return (
        cell_counts.select(cell_col, F.col(value_col).alias("n_self"))
        .join(sums, cell_col)
        .select(cell_col, "n_self", "focal_sum")
    )


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 4,
    value_col: str = "value",
    polygon_key: str = "polygon_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """(polygon_id, n_points, sum_v, min_v, max_v): per-zone aggregates
    of an integer point field — the zonal-statistics raster/vector op
    ("average ridership per district") over a polygon TABLE.

    Composition: :func:`polygon_table_join` (cell-bucketed containment,
    never a nested loop) followed by one map-side-combined aggregate —
    the zone total never materializes its member rows anywhere except
    the containment join the caller already pays for."""
    joined = polygon_table_join(points, polygons, res, lat_col, lon_col)
    return joined.groupBy(polygon_key).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(value_col).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def gi_star(
    cell_values: DataFrame,
    res: int,
    k_ring: int = 1,
    cell_col: str = "cell_id",
    value_col: str = "n",
) -> DataFrame:
    """Getis–Ord Gi* hotspot z-scores over a cell raster:
    (cell_id, n_self, s_ring, w_ring, gi_z) for every occupied cell.

    The classic local-autocorrelation statistic a coverage analyst runs
    after :func:`tile_coverage`/:func:`focal_sum`: ``gi_z`` ≫ 0 marks a
    cell whose Chebyshev ``k_ring`` neighborhood carries significantly
    more weight than the global mean predicts (dense-stop hotspots),
    ``gi_z`` ≪ 0 a cold spot. Support is the OCCUPIED cells (the raster
    the caller aggregated); mean/variance are over that support, which
    is the standard formulation for sparse rasters.

    Plan shape: one scatter-to-ring (:func:`ring_neighbors`) +
    map-side-combined sum for the neighborhood terms (9·|occupied|
    rows at k=1 — same shape as
    :func:`focal_sum`), then the global first/second moments attach via
    an unpartitioned window over the PER-CELL aggregate table. That
    SinglePartition step carries at most 4^res cell rows — grid-bounded
    metadata, never data rows (the same bounded-shape argument as
    ``global_index``'s bucket counts); at res ≤ 10 that is ≤ 1M tiny
    rows regardless of corpus size.

    Numeric dialect: the moments are exact BIGINT sums (values are
    integer counts); the z-score is derived from them in double
    arithmetic whose expression tree is mirrored token-for-token in the
    oracle SQL — IEEE mul/div/sqrt are bit-identical across engines.
    A zero denominator (constant raster) yields z = 0 explicitly: Spark
    returns NULL for x/0 where DuckDB returns inf, so the guard is a
    CASE branch on both sides.
    """
    v = F.col(value_col)
    contrib = ring_neighbors(cell_values.select(cell_col, v.alias("_v")), res, k_ring, cell_col)
    ring = contrib.groupBy(cell_col).agg(
        F.sum("_v").alias("s_ring"), F.count(F.lit(1)).alias("w_ring")
    )
    cells = (
        cell_values.select(cell_col, v.alias("n_self"))
        .join(ring, cell_col)
        .select(cell_col, "n_self", "s_ring", "w_ring")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stats = (
        cells.withColumn("_n", F.count(F.lit(1)).over(w_all))
        .withColumn("_s1", F.sum("n_self").over(w_all))
        .withColumn("_s2", F.sum(F.col("n_self") * F.col("n_self")).over(w_all))
    )
    nd = F.col("_n").cast("double")
    s1d = F.col("_s1").cast("double")
    s2d = F.col("_s2").cast("double")
    sid = F.col("s_ring").cast("double")
    wid = F.col("w_ring").cast("double")
    mean = s1d / nd
    varp = s2d / nd - mean * mean
    num = sid - mean * wid
    den = F.sqrt(varp * (nd * wid - wid * wid) / (nd - F.lit(1.0)))
    # n = 1 divides by (nd - 1) = 0 inside den (NULL in Spark, NaN in
    # DuckDB — review r5c), so the single-occupied-cell raster gets its
    # own explicit-zero branch ahead of the zero-variance guard
    z = (
        F.when(nd == F.lit(1.0), F.lit(0.0))
        .when(den == F.lit(0.0), F.lit(0.0))
        .otherwise(num / den)
    )
    return stats.select(
        cell_col, "n_self", "s_ring", "w_ring", z.alias("gi_z")
    )


def grid_dbscan(
    points: DataFrame,
    res: int,
    min_pts: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Density-based spatial clustering on the cell grid:
    (cell_id, n, cluster_id) for every CORE cell (count ≥ ``min_pts``),
    where ``cluster_id`` is the min cell id reachable through ring-1
    adjacency between core cells — the grid-bucketed DBSCAN variant
    (GriDBSCAN / cell-based DBSCAN in the literature): density test per
    cell instead of per point, adjacency instead of ε-range queries.

    Exactly the clustering a transit planner wants over stop density
    ("which contiguous dense areas form one urban core"), and the scale
    path for DBSCAN at 10^12 points: the expensive ε-neighborhood scan
    collapses into one groupBy (map-side combined) + a ring join whose
    fanout is ≤ 9 ids per core cell, and the transitive closure runs on
    the CELL graph (bounded by 4^res vertices), never on points.

    Plan shape: count-per-cell aggregate → density filter → scatter
    ring (:func:`ring_neighbors`) ⋈ core (equi join on cell id, no
    distance predicate survives to the join) → :func:`~osm2gtfs_spark.operators.dedup.
    connected_components` min-label propagation (O(log diameter)
    rounds, lineage-truncated). Isolated core cells keep their own id
    as ``cluster_id``. Non-core cells are noise and are not emitted,
    matching DBSCAN's noise semantics at cell granularity.

    NOTE: executes eagerly (the component loop runs actions), so keep
    it out of lazy plan-guard sets, like the other component queries.
    """
    from osm2gtfs_spark.operators.dedup import connected_components

    core = (
        points.groupBy(cell_id(lat_col, lon_col, res).alias("cell_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= F.lit(min_pts))
    )
    nbr = ring_neighbors(
        core.select(F.col("cell_id").alias("_src"), F.col("cell_id").alias("_dst")),
        res,
        1,
        "_dst",
    ).filter(F.col("_src") < F.col("_dst"))
    edges = nbr.join(
        core.select(F.col("cell_id").alias("_dst")), "_dst"
    ).select(F.col("_src").alias("doc_a"), F.col("_dst").alias("doc_b"))
    comps = connected_components(edges)
    return (
        core.join(comps, core.cell_id == comps.doc_id, "left")
        .select(
            "cell_id",
            "n",
            F.coalesce(F.col("component_id"), F.col("cell_id")).alias(
                "cluster_id"
            ),
        )
    )


def cell_pyramid(
    cell_counts: DataFrame,
    res_fine: int,
    res_coarse: int = 0,
    cell_col: str = "cell_id",
    value_col: str = "n",
) -> DataFrame:
    """Multi-resolution tile pyramid in ONE pass: (res, cell_id, n) for
    every level ``res_coarse`` ≤ r ≤ ``res_fine`` — the zoom-level
    rollup a tile server materializes so every map zoom reads
    pre-aggregated counts.

    Scale shape: the input is the FINEST-level aggregate (points were
    already combined once), and each fine cell explodes its ancestor
    ladder — (res_fine − res_coarse + 1) rows per OCCUPIED CELL, not
    per point — then one map-side-combined sum keyed by (level, cell).
    At 10^12 points and res 12, that is ≤ 17M ladder rows from ≤ 1.6M
    occupied cells, vs 13 full passes for the per-level naive plan.
    The ladder levels come from one literal array (constant-folded);
    the parent re-encode is pure integer arithmetic (`div` by a
    per-level power of two), all inside whole-stage codegen.
    """
    c = F.col(cell_col) - F.lit(res_fine) * F.lit(_RES_SHIFT)
    ladder = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("lvl"),
                F.lit(2 ** (res_fine - r)).cast("long").alias("shift"),
            )
            for r in range(res_coarse, res_fine + 1)
        ]
    )
    exploded = cell_counts.select(
        F.col(value_col).alias("_v"),
        F.floor(c / F.lit(_IX_SHIFT)).cast("long").alias("_ix"),
        (c % F.lit(_IX_SHIFT)).cast("long").alias("_iy"),
        F.explode(ladder).alias("_l"),
    )
    parent = (
        F.col("_l.lvl") * F.lit(_RES_SHIFT)
        + F.expr("_ix div _l.shift") * F.lit(_IX_SHIFT)
        + F.expr("_iy div _l.shift")
    )
    return (
        exploded.groupBy(
            F.col("_l.lvl").alias("res"), parent.alias(cell_col)
        )
        .agg(F.sum("_v").alias(value_col))
    )


def grid_voronoi(
    cell_counts: DataFrame,
    seed_cells: DataFrame,
    res: int,
    k_max: int = 2,
    cell_col: str = "cell_id",
    value_col: str = "n",
    seed_col: str = "seed_cell",
) -> DataFrame:
    """Nearest-facility allocation on the cell grid (grid Voronoi /
    catchment assignment): every occupied cell within Chebyshev grid
    distance ``k_max`` of some seed gets
    (cell_id, n, seed_cell, grid_dist) for its NEAREST seed — ties
    break to the smallest seed id, so the labeling is deterministic.

    This is the coverage question behind the reference's stop_area
    assignment (every stop claims its closest station,
    ``osm2gtfs/core/osm_connector.py:258-283`` walks candidates
    serially): run after :func:`tile_coverage` it answers "which depot
    serves each dense cell" without any point-level distance work.

    Plan shape: each seed scatters a (2k+1)^2 disk of
    (cell, distance) structs — the disk array is materialized in its
    OWN Project before exploding (GenerateExec re-evaluates an inline
    generator child per output row; same pitfall fixed for
    ``_segment_cells``) — then one map-side-combined min(struct) per
    cell and one equi join against the occupied-cell table. Shuffle
    volume is |seeds|·(2k+1)^2 + |occupied|, never |points| and never
    a distance cross join. Longitude wraps at the antimeridian
    (pmod), latitude rows outside the grid are dropped — identical
    conventions to :func:`~osm2gtfs_spark.functions.geo.cell_ring`.
    """
    if not 0 <= k_max <= 6:
        raise ValueError(f"k_max must be in [0, 6], got {k_max}")
    n = 2**res
    c = F.col(seed_col) - F.lit(res) * F.lit(_RES_SHIFT)
    six = F.floor(c / F.lit(_IX_SHIFT)).cast("long")
    siy = (c % F.lit(_IX_SHIFT)).cast("long")
    entries = []
    for dx in range(-k_max, k_max + 1):
        for dy in range(-k_max, k_max + 1):
            ny = siy + F.lit(dy)
            cell = (
                F.lit(res).cast("long") * F.lit(_RES_SHIFT)
                + F.pmod(six + F.lit(dx), F.lit(n)) * F.lit(_IX_SHIFT)
                + ny
            )
            entries.append(
                F.when(
                    (ny >= 0) & (ny < n),
                    F.struct(
                        F.lit(max(abs(dx), abs(dy))).cast("long").alias("d"),
                        cell.alias("c"),
                    ),
                )
            )
    disk = F.filter(F.array(*entries), lambda x: x.isNotNull())
    scattered = (
        seed_cells.select(F.col(seed_col).alias("_seed"), disk.alias("_disk"))
        .select("_seed", F.explode("_disk").alias("_e"))
        .select(
            F.col("_e.c").alias(cell_col),
            F.col("_e.d").alias("_d"),
            F.col("_seed").alias("_s"),
        )
    )
    alloc = scattered.groupBy(cell_col).agg(
        F.min(F.struct(F.col("_d").alias("d"), F.col("_s").alias("s"))).alias("_b")
    )
    return (
        cell_counts.join(alloc, cell_col)
        .select(
            cell_col,
            value_col,
            F.col("_b.s").alias(seed_col),
            F.col("_b.d").alias("grid_dist"),
        )
    )


def polygon_rasterize(
    polygons: DataFrame,
    res: int,
    max_cells: int = 4096,
    polygon_key: str = "polygon_id",
) -> DataFrame:
    """Vector → raster: (polygon_id, cell_id) for every res-``res``
    grid cell whose CENTER lies inside the (convex, counter-clockwise)
    polygon — the fill primitive behind raster↔vector tile assignment
    (north rule): burn each service-area polygon onto the tile grid
    once, then every coverage question is a cell equi join instead of
    a containment test.

    Plan shape: per polygon one bbox-bounded double sequence explode
    (ix × iy candidate cells, never the whole grid) followed by the
    same per-edge cross-product fold as :func:`polygon_table_join` —
    evaluated against the cell center, so the polygon never leaves its
    own row and there is NO join at all; output rows scale with
    Σ bbox-cells. A polygon whose bbox covers more than ``max_cells``
    cells at ``res`` raises (same contract as the segment-cover cap):
    rasterize big polygons at a coarser res and refine with
    :func:`~osm2gtfs_spark.operators.spatial.cell_pyramid`-style
    drill-down instead of letting one row fan out unbounded.
    """
    n = 2**res
    lat_min = F.array_min(F.transform("vertices", lambda v: v["lat"]))
    lat_max = F.array_max(F.transform("vertices", lambda v: v["lat"]))
    lon_min = F.array_min(F.transform("vertices", lambda v: v["lon"]))
    lon_max = F.array_max(F.transform("vertices", lambda v: v["lon"]))
    lox, hix = cell_ix(lon_min, res), cell_ix(lon_max, res)
    loy, hiy = cell_iy(lat_min, res), cell_iy(lat_max, res)
    n_cand = (hix - lox + 1) * (hiy - loy + 1)
    guard = F.when(
        n_cand > F.lit(max_cells),
        F.raise_error(
            F.concat(
                F.lit(f"polygon bbox exceeds max_cells={max_cells} at res={res}: "),
                n_cand.cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    cells = (
        polygons.withColumn("_g", guard)
        .withColumn("_ix", F.explode(F.sequence(lox + F.col("_g"), hix)))
        .withColumn("_iy", F.explode(F.sequence(loy, hiy)))
    )
    clat = (F.col("_iy") + F.lit(0.5)) / F.lit(float(n)) * F.lit(180.0) - F.lit(90.0)
    clon = (F.col("_ix") + F.lit(0.5)) / F.lit(float(n)) * F.lit(360.0) - F.lit(180.0)
    inside = _edges_contain(_polygon_edges("vertices"), clat, clon)
    cell = (
        F.lit(res).cast("long") * F.lit(_RES_SHIFT)
        + F.col("_ix").cast("long") * F.lit(_IX_SHIFT)
        + F.col("_iy").cast("long")
    )
    return cells.filter(inside).select(polygon_key, cell.alias("cell_id"))


def tile_snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    cell_col: str = "cell_id",
    value_col: str = "n",
) -> DataFrame:
    """Raster change feed: (cell_id, n_old, n_new, delta) for every
    cell whose count CHANGED between two tile snapshots — what a map
    update pipeline ships downstream instead of the full raster
    ("which tiles must re-render after this OSM diff").

    One full-outer equi join on the cell id + a delta filter; absent
    cells coalesce to 0 on their side, so appears/disappears emit with
    n_old/n_new = 0. Shuffle is keyed by cell id on both sides — at
    production scale both snapshots are stored bucketed by cell (or
    Morton range), making this a zero-exchange bucket-local join."""
    o = old.select(F.col(cell_col), F.col(value_col).alias("_o"))
    nw = new.select(F.col(cell_col), F.col(value_col).alias("_n"))
    return (
        o.join(nw, cell_col, "full")
        .select(
            cell_col,
            F.coalesce(F.col("_o"), F.lit(0).cast("long")).alias("n_old"),
            F.coalesce(F.col("_n"), F.lit(0).cast("long")).alias("n_new"),
        )
        .withColumn("delta", F.col("n_new") - F.col("n_old"))
        .filter(F.col("delta") != 0)
    )


def moran_i(
    cell_values: DataFrame,
    res: int,
    cell_col: str = "cell_id",
    value_col: str = "n",
) -> DataFrame:
    """Global Moran's I over a cell raster with ring-1 (Chebyshev,
    binary) adjacency: ONE row (n_cells, w_pairs, moran_i) — the
    corpus-level "is this raster clustered at all" companion to the
    per-cell :func:`gi_star` (local) statistic. I > 0: similar counts
    cluster; I < 0: checkerboard; ~0: spatially random.

    Every moment is an exact BIGINT sum — n, Σx, Σx², W = Σ wᵢ,
    Σ wᵢxᵢ and the adjacency cross term Σᵢ xᵢ·rᵢ (rᵢ = neighbor sum) —
    derived from the SAME scatter-to-ring (:func:`ring_neighbors`) +
    join shape as gi_star (self excluded arithmetically: rᵢ = ring_sum − xᵢ, wᵢ = ring_cnt −
    1), so no second shuffle family. The final I is double arithmetic
    over those six integers, mirrored token-for-token in the oracle;
    W = 0 (no adjacent occupied cells) or zero variance yield I = 0
    explicitly. The one-row aggregate carries partition PARTIALS of
    six integers only — the same bounded-SinglePartition argument as
    corpus_stats.
    """
    v = F.col(value_col)
    contrib = ring_neighbors(cell_values.select(cell_col, v.alias("_v")), res, 1, cell_col)
    ring = contrib.groupBy(cell_col).agg(
        F.sum("_v").alias("_rs"), F.count(F.lit(1)).alias("_rc")
    )
    cells = cell_values.select(cell_col, v.alias("_x")).join(ring, cell_col)
    per = cells.select(
        F.col("_x"),
        (F.col("_rs") - F.col("_x")).alias("_r"),
        (F.col("_rc") - F.lit(1)).cast("long").alias("_w"),
    )
    g = per.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum("_w").alias("w_pairs"),
        F.sum(F.col("_w") * F.col("_x")).alias("_swx"),
        F.sum(F.col("_x") * F.col("_r")).alias("_cross"),
    )
    nd = F.col("n_cells").cast("double")
    wd = F.col("w_pairs").cast("double")
    m = F.col("_sx").cast("double") / nd
    num = F.col("_cross").cast("double") - F.lit(2.0) * m * F.col("_swx").cast(
        "double"
    ) + m * m * wd
    den = F.col("_sxx").cast("double") - nd * m * m
    i_val = F.when((wd == F.lit(0.0)) | (den == F.lit(0.0)), F.lit(0.0)).otherwise(
        (nd / wd) * (num / den)
    )
    return g.select("n_cells", "w_pairs", i_val.alias("moran_i"))


def quadkey_rollup(
    cell_counts: DataFrame,
    res: int,
    qk_col: str = "qk",
    value_col: str = "n",
) -> DataFrame:
    """String-keyed tile pyramid: (lvl, qk, n) for every prefix level
    0..res of the leaf quadkeys — the rollup an object-store tile
    layout (keys = quadkey paths) materializes directly, exploiting
    the parent-is-prefix property of
    :func:`~osm2gtfs_spark.functions.geo.quadkey`. Level 0 is the
    root's empty-string key.

    The integer-id twin is :func:`cell_pyramid`; use that for compute,
    this when the storage layout is path-keyed. Same scale shape: one
    (res+1)-wide prefix explode per OCCUPIED leaf + one
    map-side-combined sum — rows scale with occupied leaves × levels,
    never points.
    """
    ladder = F.array(*[F.lit(r).cast("long") for r in range(0, res + 1)])
    exploded = cell_counts.select(
        F.col(value_col).alias("_v"),
        F.col(qk_col).alias("_qk"),
        F.explode(ladder).alias("lvl"),
    )
    return (
        exploded.groupBy(
            "lvl", F.substring(F.col("_qk"), 1, F.col("lvl")).alias(qk_col)
        )
        .agg(F.sum("_v").alias(value_col))
    )


def bilinear_splat(
    points: DataFrame,
    res: int,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Anti-aliased density surface: (cell_id, w_permille) — every
    point splats its unit mass onto the FOUR grid nodes surrounding it
    with bilinear weights, the standard smooth-raster alternative to
    nearest-cell binning (no aliasing at cell boundaries; a point on a
    boundary contributes to both sides proportionally).

    Exact mass conservation in integer arithmetic: the three floored
    permille corner weights are computed independently and the fourth
    takes the remainder (1000 − the other three), so every point
    contributes EXACTLY 1000 permille — Σ w_permille ≡ 1000·|points|,
    asserted in tests and immune to float drift in the oracle replay
    (the fractional offsets fx/fy are IEEE-mirrored; the floors make
    the weights integers before the shuffle).

    Grid convention: node (ix, iy) sits at the CENTER of cell (ix, iy)
    — fractional position fx = frac(x − 0.5) of the continuous grid
    coordinate, base node = floor(x − 0.5) clamped/wrapped exactly
    like :func:`~osm2gtfs_spark.functions.geo.cell_ring` (lon wraps,
    lat clamps to the grid edge so polar mass stays on the globe).
    Fanout exactly 4 rows per point, one map-side-combined sum.
    """
    n = 2**res
    x = (F.col(lon_col) + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)) - F.lit(0.5)
    y = (F.col(lat_col) + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)) - F.lit(0.5)
    bx = F.floor(x).cast("long")
    by = F.floor(y).cast("long")
    fx = x - bx.cast("double")
    fy = y - by.cast("double")
    w00 = F.floor((F.lit(1.0) - fx) * (F.lit(1.0) - fy) * F.lit(1000.0)).cast("long")
    w10 = F.floor(fx * (F.lit(1.0) - fy) * F.lit(1000.0)).cast("long")
    w01 = F.floor((F.lit(1.0) - fx) * fy * F.lit(1000.0)).cast("long")
    w11 = F.lit(1000).cast("long") - w00 - w10 - w01  # exact remainder
    base = points.select(bx.alias("_bx"), by.alias("_by"),
                         w00.alias("_w00"), w10.alias("_w10"),
                         w01.alias("_w01"), w11.alias("_w11"))
    corners = base.select(
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("dx"), F.lit(0).alias("dy"),
                         F.col("_w00").alias("w")),
                F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy"),
                         F.col("_w10").alias("w")),
                F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy"),
                         F.col("_w01").alias("w")),
                F.struct(F.lit(1).alias("dx"), F.lit(1).alias("dy"),
                         F.col("_w11").alias("w")),
            )
        ).alias("_c"),
        "_bx",
        "_by",
    )
    ny = F.least(F.greatest(F.col("_by") + F.col("_c.dy"), F.lit(0)), F.lit(n - 1))
    cell = (
        F.lit(res).cast("long") * F.lit(_RES_SHIFT)
        + F.pmod(F.col("_bx") + F.col("_c.dx"), F.lit(n)) * F.lit(_IX_SHIFT)
        + ny.cast("long")
    )
    return (
        corners.groupBy(cell.alias("cell_id"))
        .agg(F.sum("_c.w").alias("w_permille"))
    )
