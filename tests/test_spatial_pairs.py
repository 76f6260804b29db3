"""Round-5 continuation operators: within-distance pair join, polygon
shoelace stats, geohash interop.

The DuckDB gate (within_distance_pairs / polygon_area_centroid /
geohash_encode) enforces cross-engine value parity; these pin the
structural properties the oracle can't express — ring-reach
validation, pair uniqueness, the production double dialect, and
conformance to the public geohash spec via an independent pure-Python
encoder.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.functions.geo import GEOHASH_B32, cell_id, geohash
from osm2gtfs_spark.operators.spatial import (
    corridor_match,
    polygon_stats,
    ring_candidates,
    within_distance_pairs,
)


@pytest.fixture(scope="module")
def pts(spark):
    # clustered + scattered: three tight clusters (intra-cluster pairs,
    # some straddling a cell boundary) plus a sparse background
    rows = []
    pid = 0
    for base_lat, base_lon in ((0.0, 0.0), (44.9, 89.9), (-30.05, -120.05)):
        for j in range(6):
            rows.append((pid, base_lat + j * 0.11, base_lon + j * 0.07))
            pid += 1
    for j in range(40):
        rows.append((pid, -80.0 + (j * 37) % 160, -170.0 + (j * 91) % 340))
        pid += 1
    return spark.createDataFrame(rows, "stop_key long, lat double, lon double").cache()


def _brute_pairs(df, radius):
    pdf = df.toPandas()
    out = set()
    for a in pdf.itertuples(index=False):
        for b in pdf.itertuples(index=False):
            if a.stop_key < b.stop_key:
                d2 = (a.lat - b.lat) ** 2 + (a.lon - b.lon) ** 2
                if d2 <= radius * radius:
                    out.add((a.stop_key, b.stop_key))
    return out


def test_pairs_match_brute_force(pts):
    """The cell-bucketed join reproduces O(n^2) semantics, including
    pairs that straddle cell boundaries (cluster 2 sits on the 45/90
    res-6 cell corner)."""
    radius = 1.0
    got = {
        (r.key_a, r.key_b)
        for r in within_distance_pairs(pts, res=6, radius_deg=radius).collect()
    }
    assert got == _brute_pairs(pts, radius)
    assert len(got) >= 3 * 15  # every intra-cluster pair found


def test_pairs_emitted_exactly_once(pts):
    out = within_distance_pairs(pts, res=6, radius_deg=1.0)
    assert out.count() == out.distinct().count()
    assert out.filter(F.col("key_a") >= F.col("key_b")).count() == 0


def test_pairs_ring_reach_validated(pts):
    """A radius beyond the ring's Chebyshev reach would silently drop
    pairs — every operator that takes ``radius_deg`` must refuse
    instead, and so must the ring join they share."""
    segs = pts.select(
        F.col("stop_key").alias("route_id"),
        F.col("lat").alias("lat1"),
        F.col("lon").alias("lon1"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
    )
    build = pts.select("stop_key", cell_id("lat", "lon", 6).alias("_cell"))
    callers = {
        "within_distance_pairs": lambda k: within_distance_pairs(
            pts, res=6, radius_deg=3.0, k_ring=k
        ),
        "corridor_match": lambda k: corridor_match(
            pts.select(F.col("stop_key").alias("p"), "lat", "lon"),
            segs, res=6, radius_deg=3.0, k_ring=k, point_key="p",
        ),
        "ring_candidates": lambda k: ring_candidates(
            pts.select(F.col("stop_key").alias("p"), "lat", "lon"),
            build, 6, k, radius_deg=3.0,
        ),
    }
    for call in callers.values():
        with pytest.raises(ValueError, match="ring reach"):
            call(1)
        # same radius is fine with a wider ring
        call(2)


def _cell_xy(lat, lon, res):
    n = 2**res
    return (
        min(int(math.floor((lon + 180.0) / 360.0 * n)), n - 1),
        min(int(math.floor((lat + 90.0) / 180.0 * n)), n - 1),
    )


# (probes, partners) at res 4 (22.5° x 11.25° cells): probes on both
# sides of the antimeridian whose partners sit across it, and probes in
# the top and bottom lat rows, where the ring has no row beyond the pole
_EDGE_LATS = (-89.99, -85.0, -80.0, -70.0, 0.0, 70.0, 80.0, 85.0, 89.99)
_EDGE_LONS = (-179.99, -170.0, -160.0, -150.0, 0.0, 150.0, 160.0, 170.0, 179.99)
EDGE_CASES = {
    "antimeridian": [(0.0, 179.99), (0.0, -179.99), (5.0, 170.0), (-5.0, -165.0)],
    "poles": [(89.99, 0.0), (-89.99, 150.0), (85.0, -179.99), (-85.0, 179.99)],
}


@pytest.mark.parametrize("k_ring", [1, 2])
@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_ring_candidates_grid_edges(spark, case, k_ring):
    """``ring_candidates`` returns exactly the pairs whose cells are
    within Chebyshev ``k_ring`` — longitude wrapping at ±180, latitude
    not wrapping past the poles — each pair once."""
    res = 4
    probes = [(i, la, lo) for i, (la, lo) in enumerate(EDGE_CASES[case])]
    partners = [
        (100 + i, la, lo)
        for i, (la, lo) in enumerate((la, lo) for la in _EDGE_LATS for lo in _EDGE_LONS)
    ]
    probe = spark.createDataFrame(probes, "p long, lat double, lon double")
    build = spark.createDataFrame(partners, "b long, lat double, lon double").select(
        "b", cell_id("lat", "lon", res).alias("_cell")
    )
    got = [(r.p, r.b) for r in ring_candidates(probe, build, res, k_ring).collect()]
    n = 2**res
    want = set()
    for p, pla, plo in probes:
        px, py = _cell_xy(pla, plo, res)
        for b, bla, blo in partners:
            bx, by = _cell_xy(bla, blo, res)
            if min(abs(px - bx), n - abs(px - bx)) <= k_ring and abs(py - by) <= k_ring:
                want.add((p, b))
    assert len(got) == len(set(got))
    assert set(got) == want
    # the case is not vacuous: it finds pairs across ±180 / in a pole row
    lon_of = {k: lo for k, _, lo in probes + partners}
    lat_of = {k: la for k, la, _ in probes + partners}
    if case == "antimeridian":
        assert any(abs(lon_of[p] - lon_of[b]) > 180 for p, b in want)
    else:
        assert any(abs(lat_of[p]) > 89 and abs(lat_of[b]) > 89 for p, b in want)


def test_pairs_carry_cols(pts):
    out = within_distance_pairs(
        pts.withColumn("tag", F.col("stop_key") % 3),
        res=6,
        radius_deg=1.0,
        carry_cols=("tag",),
    )
    row = out.first()
    assert row is not None and row.a_tag == row.key_a % 3 and row.b_tag == row.key_b % 3


def test_polygon_stats_double_dialect(spark):
    """Production dialect: shoelace area of a CCW diamond is 2·dx·dy,
    centroid is its center; CW orientation flips the sign."""
    diamond = [(-2.0, 10.0), (0.0, 13.0), (2.0, 10.0), (0.0, 7.0)]  # (lat, lon)
    polys = spark.createDataFrame(
        [(1, [{"lat": la, "lon": lo} for la, lo in diamond]),
         (2, [{"lat": la, "lon": lo} for la, lo in reversed(diamond)])],
        "polygon_id long, vertices array<struct<lat:double,lon:double>>",
    )
    rows = {r.polygon_id: r for r in polygon_stats(polys).collect()}
    ccw, cw = rows[1], rows[2]
    assert ccw.area_deg2 == pytest.approx(2 * 3.0 * 2.0)
    assert ccw.centroid_lat == pytest.approx(0.0)
    assert ccw.centroid_lon == pytest.approx(10.0)
    assert ccw.n_vertices == 4
    assert cw.area_deg2 == pytest.approx(-ccw.area_deg2)
    # centroid is orientation-invariant (numerator and denominator flip)
    assert cw.centroid_lon == pytest.approx(10.0)


def test_polygon_stats_int_dialect_consistent(spark):
    """The oracle-exact integer dialect approximates the double dialect
    to the chosen scale (floor error ≤ n_edges/scale)."""
    tri = [(0.0, 0.0), (0.0, 4.0), (3.0, 0.0)]  # CCW? cross: (4-0)... area +6
    polys = spark.createDataFrame(
        [(1, [{"lat": la, "lon": lo} for la, lo in tri])],
        "polygon_id long, vertices array<struct<lat:double,lon:double>>",
    )
    d = polygon_stats(polys).first()
    i = polygon_stats(polys, int_scale=1_000_000).first()
    assert abs(i.area2_scaled / 1e6 - 2 * d.area_deg2) < 3 / 1e6
    assert i.n_vertices == 3


def _py_geohash(lat: float, lon: float, length: int) -> str:
    """Independent reference encoder straight from the public spec:
    alternating lon/lat interval bisection, base-32 per 5 bits."""
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits = []
    even = True
    while len(bits) < 5 * length:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    out = []
    for i in range(length):
        idx = 0
        for b in bits[5 * i : 5 * i + 5]:
            idx = idx * 2 + b
        out.append(GEOHASH_B32[idx])
    return "".join(out)


def test_geohash_matches_public_spec(pts):
    """Spread-bits encoder == independent bisection encoder for every
    point (the gate only proves Spark==DuckDB on the same formula;
    this proves the formula IS geohash)."""
    rows = pts.select(
        "stop_key", "lat", "lon", geohash("lat", "lon", 6).alias("gh")
    ).collect()
    for r in rows:
        assert r.gh == _py_geohash(r.lat, r.lon, 6), (r.lat, r.lon)


def test_geohash_prefix_hierarchy(pts):
    """Shorter geohashes are prefixes of longer ones — the property
    that makes prefix grouping equal cell-hierarchy grouping."""
    bad = (
        pts.select(
            geohash("lat", "lon", 4).alias("g4"), geohash("lat", "lon", 8).alias("g8")
        )
        .filter(~F.col("g8").startswith(F.col("g4")))
        .count()
    )
    assert bad == 0


def test_geohash_rejects_odd_length():
    with pytest.raises(ValueError, match="even"):
        geohash("lat", "lon", 5)
