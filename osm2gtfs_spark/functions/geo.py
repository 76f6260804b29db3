"""Geospatial column functions — grid cells, haversine, centroids, bbox.

Replaces the reference's scalar helpers with vectorized column math:

- ``Helper.get_crow_fly_distance`` (reference ``osm2gtfs/core/helper.py:70-93``)
  → :func:`haversine_m`
- ``Helper.get_center_of_nodes`` (``osm2gtfs/core/helper.py:28-54``)
  → :func:`spherical_centroid_aggs`
- Overpass bbox filter (``osm2gtfs/core/osm_connector.py:38-41``)
  → :func:`in_bbox`

Cell scheme (the H3/S2 role in the north rule): an equirectangular
quadtree grid. At resolution ``r`` the globe is split into ``2^r × 2^r``
cells; a point maps to integer coordinates ``(ix, iy)`` and a single
64-bit id ``r·2^52 + ix·2^26 + iy``. Everything is closed-form integer
arithmetic — it runs entirely inside whole-stage codegen, is expressible
verbatim in ANSI SQL for the DuckDB oracle, pushes down into partition
pruning when used as a partition column, and supports O(1) neighbor
enumeration (``cell_ring``) for kNN ring expansion and O(1) parent/child
moves (shift by one bit per axis) for adaptive-resolution skew splitting.

Why not the `h3` library: it is not installed in this container, and a
pip dependency per-executor is an ops liability at 1000 executors; the
quadtree grid gives the same algorithmic properties (locality, rings,
hierarchy) with zero dependencies and zero Python in the plan. The
functions take a ``res`` parameter so swapping in real H3 later only
changes this module.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0

# bit layout: id = res * 2**52 + ix * 2**26 + iy   (res ≤ 25, ix/iy < 2**26)
_RES_SHIFT = 2**52
_IX_SHIFT = 2**26
MAX_RES = 25


def _as_col(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def cell_ix(lon, res: int) -> Column:
    """Integer x (longitude) coordinate of the grid cell at ``res``."""
    n = 2**res
    lon = _as_col(lon)
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    # clamp lon=180.0 into the last column; negatives can't occur for valid lon
    return F.least(ix, F.lit(n - 1)).cast("long")


def cell_iy(lat, res: int) -> Column:
    """Integer y (latitude) coordinate of the grid cell at ``res``."""
    n = 2**res
    lat = _as_col(lat)
    iy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    return F.least(iy, F.lit(n - 1)).cast("long")


def cell_id(lat, lon, res: int) -> Column:
    """64-bit cell id at resolution ``res`` (0..25). Pure column math."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    return (
        F.lit(res).cast("long") * F.lit(_RES_SHIFT)
        + cell_ix(lon, res) * F.lit(_IX_SHIFT)
        + cell_iy(lat, res)
    ).alias(f"cell_r{res}")


def cell_id_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """The identical cell-id formula as an ANSI SQL string (DuckDB oracle)."""
    ix, iy = cell_ixiy_sql(lat_expr, lon_expr, res)
    return f"(CAST({res} AS BIGINT) * {_RES_SHIFT} + {ix} * {_IX_SHIFT} + {iy})"


def cell_parent(cell, res_from: int, res_to: int) -> Column:
    """Re-encode a cell id to a coarser resolution (adaptive split/merge)."""
    if res_to > res_from:
        raise ValueError("parent resolution must be coarser")
    shift = 2 ** (res_from - res_to)
    c = _as_col(cell) - F.lit(res_from) * F.lit(_RES_SHIFT)
    ix = F.floor(c / F.lit(_IX_SHIFT)) / F.lit(shift)
    iy = (c % F.lit(_IX_SHIFT)) / F.lit(shift)
    return (
        F.lit(res_to).cast("long") * F.lit(_RES_SHIFT)
        + F.floor(ix).cast("long") * F.lit(_IX_SHIFT)
        + F.floor(iy).cast("long")
    )


def cell_parent_sql(cell_expr: str, res_from: int, res_to: int) -> str:
    """The identical parent re-encoding as an ANSI SQL string (oracle).

    Integer-only: decompose id → (ix, iy), floor-divide each axis by
    2^(res_from−res_to), re-encode at res_to."""
    if res_to > res_from:
        raise ValueError("parent resolution must be coarser")
    shift = 2 ** (res_from - res_to)
    c = f"(({cell_expr}) - {res_from} * {_RES_SHIFT})"
    return (
        f"({res_to} * {_RES_SHIFT}"
        f" + (({c} // {_IX_SHIFT}) // {shift}) * {_IX_SHIFT}"
        f" + (({c} % {_IX_SHIFT}) // {shift}))"
    )


def cell_ring(cell, res: int, k: int = 1) -> Column:
    """Array of cell ids within Chebyshev distance ``k`` (incl. self).

    The kNN snap (SURVEY.md J9) explodes this array instead of doing a
    cross join: candidates are only ever looked up in the (2k+1)^2
    neighboring cells. Longitude wraps at the antimeridian; latitude
    rows outside the grid are dropped.
    """
    n = 2**res
    c = _as_col(cell) - F.lit(res) * F.lit(_RES_SHIFT)
    ix = F.floor(c / F.lit(_IX_SHIFT)).cast("long")
    iy = (c % F.lit(_IX_SHIFT)).cast("long")
    offsets = F.sequence(F.lit(-k), F.lit(k))
    # flatten the (dx, dy) product into one array of neighbor ids
    ring = F.flatten(
        F.transform(
            offsets,
            lambda dx: F.transform(
                offsets,
                lambda dy: F.when(
                    ((iy + dy) >= 0) & ((iy + dy) < n),
                    F.lit(res).cast("long") * F.lit(_RES_SHIFT)
                    + F.pmod(ix + dx, F.lit(n)) * F.lit(_IX_SHIFT)
                    + (iy + dy),
                ),
            ),
        )
    )
    return F.array_distinct(F.filter(ring, lambda x: x.isNotNull()))


# Morton (Z-order) interleave: spread the bits of a 26-bit coordinate
# into the even bit positions of a 52-bit word via the standard
# shift-or-mask ladder, then weave x into odd / y into even positions.
# The resulting key linearizes the grid along the Z-curve: cells close
# on the curve are close on the globe, so range-partitioning or sorting
# by Morton key gives spatial locality for scans, co-located joins and
# file clustering — the role H3's hierarchical id / S2's Hilbert
# position plays. Pure codegen integer math; parent-at-coarser-res is
# one shift (mz >> 2 per level).
_SPREAD_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread_bits(x: Column) -> Column:
    for sh, mask in _SPREAD_MASKS:
        x = x.bitwiseOR(F.shiftleft(x, sh)).bitwiseAND(F.lit(mask))
    return x


def morton_key(lat, lon, res: int) -> Column:
    """Z-order key at ``res``: x bits in odd, y bits in even positions.

    Keys at the same resolution sort along the Z-curve; the parent key
    at resolution ``r-k`` is ``morton >> 2k``, so one key supports both
    locality-preserving layout AND hierarchical prefix pruning."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    return (
        F.shiftleft(_spread_bits(cell_ix(lon, res)), 1)
        .bitwiseOR(_spread_bits(cell_iy(lat, res)))
        .alias(f"morton_r{res}")
    )


def _spread_bits_sql(expr: str) -> str:
    for sh, mask in _SPREAD_MASKS:
        expr = f"(({expr} | ({expr} << {sh})) & {mask})"
    return expr


def morton_from_ixiy_sql(ix_expr: str, iy_expr: str) -> str:
    """Morton key from already-computed integer grid coords (SQL).

    The spread ladder substitutes its operand 2^5 times — pass short
    column refs (compute ix/iy in a prior CTE), not full formulas."""
    return f"(({_spread_bits_sql(ix_expr)} << 1) | {_spread_bits_sql(iy_expr)})"


def cell_ixiy_sql(lat_expr: str, lon_expr: str, res: int) -> tuple[str, str]:
    """The (ix, iy) grid-coordinate formulas as ANSI SQL strings."""
    n = 2**res
    ix = f"LEAST(CAST(FLOOR(({lon_expr} + 180.0) / 360.0 * {n}.0) AS BIGINT), {n - 1})"
    iy = f"LEAST(CAST(FLOOR(({lat_expr} + 90.0) / 180.0 * {n}.0) AS BIGINT), {n - 1})"
    return ix, iy


# Standard geohash base-32 alphabet (public spec: no a, i, l, o).
GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lat, lon, length: int) -> Column:
    """Standard geohash string of ``length`` characters (pure codegen).

    A geohash interleaves lon/lat bisection bits starting with
    longitude at the most significant position, then base-32 encodes
    5-bit groups. That is exactly the :func:`morton_key` word read
    MSB-first — x (lon) sits in odd bit positions, so the top bit of
    the 2·res-bit word is lon's MSB — so the encoder is the existing
    spread-bits ladder plus a per-5-bit alphabet lookup.

    ``length`` must be even (odd lengths give lon one extra bit —
    a second ladder for an asymmetric split isn't worth the surface).
    The per-axis resolution is ``5·length/2`` bits (≤ ``MAX_RES+1``).

    Interop column: prefix-match grouping on geohash strings equals
    cell-hierarchy grouping, and external systems (Redis GEO, ES)
    accept the value as-is. Zero UDFs, zero shuffles.
    """
    if length % 2 != 0 or length <= 0:
        raise ValueError(f"length must be a positive even int, got {length}")
    res = 5 * length // 2
    if res > MAX_RES + 1:
        raise ValueError(f"length={length} needs {res} bits/axis > {MAX_RES + 1}")
    mz = F.shiftleft(_spread_bits(cell_ix(lon, res)), 1).bitwiseOR(
        _spread_bits(cell_iy(lat, res))
    )
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_B32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(mz, 5 * (length - 1 - i)).bitwiseAND(F.lit(31)) + 1).cast("int"),
        )
        for i in range(length)
    ]
    return F.concat(*chars)


def geohash_sql(lat_expr: str, lon_expr: str, length: int) -> str:
    """The identical geohash encoding as ANSI SQL (DuckDB oracle).

    The spread ladder substitutes its operand repeatedly, so this
    emits a two-CTE-friendly single expression over precomputed ix/iy
    column refs: pass SHORT refs via an outer CTE exactly like
    :func:`morton_from_ixiy_sql` (use :func:`cell_ixiy_sql` first and
    feed this the resulting column names)."""
    if length % 2 != 0 or length <= 0:
        raise ValueError(f"length must be a positive even int, got {length}")
    chars = [
        f"SUBSTR('{GEOHASH_B32}', CAST(((mz >> {5 * (length - 1 - i)}) & 31) + 1 AS INT), 1)"
        for i in range(length)
    ]
    return " || ".join(chars)


# transitfeed's ApproximateDistance radius — its time interpolation and
# the golden feeds depend on this exact constant
TRANSITFEED_RADIUS_M = 6367000.0


def haversine_m(lat1, lon1, lat2, lon2, radius: float = EARTH_RADIUS_M) -> Column:
    """Great-circle distance in meters.

    Same formula as the reference's ``get_crow_fly_distance``
    (``osm2gtfs/core/helper.py:70-93``) but as one codegen'd expression.
    Pass ``radius=TRANSITFEED_RADIUS_M`` for transitfeed parity.
    """
    lat1, lon1, lat2, lon2 = (_as_col(c) for c in (lat1, lon1, lat2, lon2))
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * radius) * F.asin(F.sqrt(a))


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Identical haversine as an ANSI SQL string (DuckDB oracle)."""
    dlat = f"RADIANS({lat2} - {lat1})"
    dlon = f"RADIANS({lon2} - {lon1})"
    a = (
        f"SIN({dlat}/2)*SIN({dlat}/2) + "
        f"COS(RADIANS({lat1}))*COS(RADIANS({lat2}))*SIN({dlon}/2)*SIN({dlon}/2)"
    )
    return f"(2.0 * {EARTH_RADIUS_M} * ASIN(SQRT({a})))"


def in_bbox(lat, lon, south: float, west: float, north: float, east: float) -> Column:
    """Point-in-bbox predicate (reference J12). Pushdown-friendly."""
    lat, lon = _as_col(lat), _as_col(lon)
    return lat.between(south, north) & lon.between(west, east)


def spherical_centroid_aggs(lat, lon, pos) -> dict[str, Column]:
    """Aggregate expressions for the unit-vector (spherical) centroid.

    Reference: ``Helper.get_center_of_nodes`` (``helper.py:28-54``) —
    mean of 3-D unit vectors, projected back with atan2. Usage::

        df.groupBy(key).agg(*spherical_centroid_aggs('lat','lon','pos').values())
          .select(centroid_lat('cx','cy','cz'), centroid_lon('cx','cy'))

    Each component is summed in ``pos`` order (the member position), as
    the reference sums its node list, never in the order shuffle blocks
    arrive: a double sum depends on its order, so an ``avg`` moves a
    centroid's last bit with the input's partitioning. Rows with a NULL
    coordinate are skipped, as ``avg`` skips them.
    """
    lat, lon = _as_col(lat), _as_col(lon)
    rlat, rlon = F.radians(lat), F.radians(lon)
    unit = F.struct(
        _as_col(pos).alias("p"),
        (F.cos(rlat) * F.cos(rlon)).alias("x"),
        (F.cos(rlat) * F.sin(rlon)).alias("y"),
        F.sin(rlat).alias("z"),
    )
    pts = F.array_sort(F.collect_list(F.when(lat.isNotNull() & lon.isNotNull(), unit)))

    def mean(f: str) -> Column:
        return F.aggregate(pts, F.lit(0.0), lambda acc, e: acc + e[f]) / F.size(pts)

    return {c: mean(f).alias(c) for c, f in (("cx", "x"), ("cy", "y"), ("cz", "z"))}


def centroid_lat(cx, cy, cz) -> Column:
    cx, cy, cz = (_as_col(c) for c in (cx, cy, cz))
    return F.degrees(F.atan2(cz, F.sqrt(cx * cx + cy * cy)))


def centroid_lon(cx, cy) -> Column:
    cx, cy = _as_col(cx), _as_col(cy)
    return F.degrees(F.atan2(cy, cx))


def quadkey(lat, lon, res: int) -> Column:
    """Tile-pyramid quadkey string of length ``res``: one base-4 digit
    per zoom level, digit = ix_bit + 2·iy_bit from the most significant
    bit down (iy counted from the south edge — same grid orientation as
    :func:`cell_id`, documented rather than Bing's north-down y).

    The property a tile server relies on: the quadkey of the parent
    cell at res−1 is exactly the first res−1 characters, so prefix
    range scans enumerate a subtree — the string-keyed twin of
    :func:`morton_key` for systems (object stores, KV layouts) that
    key by path. Pure codegen integer math + concat.
    """
    if not 1 <= res <= 16:
        raise ValueError(f"res must be in [1, 16], got {res}")
    ix = cell_ix(lon, res)
    iy = cell_iy(lat, res)
    digits = []
    for lvl in range(1, res + 1):
        sh = 2 ** (res - lvl)
        d = (
            F.floor(ix / F.lit(sh)).cast("long") % F.lit(2)
            + (F.floor(iy / F.lit(sh)).cast("long") % F.lit(2)) * F.lit(2)
        )
        digits.append(d.cast("string"))
    return F.concat(*digits)


def quadkey_sql(res: int) -> str:
    """The identical quadkey as ANSI SQL over a CTE that must provide
    columns ``ix`` and ``iy`` at ``res`` (compute them once — the digit
    ladder references each 2·res times)."""
    digits = []
    for lvl in range(1, res + 1):
        sh = 2 ** (res - lvl)
        digits.append(
            f"CAST((ix // {sh}) % 2 + ((iy // {sh}) % 2) * 2 AS VARCHAR)"
        )
    return "(" + " || ".join(digits) + ")"
