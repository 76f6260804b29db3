"""Skew tools: two-phase agg / replicated join.

Semantics checks: results must equal the unsalted plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from osm2gtfs_spark.operators.skew import (
    replicated_salted_join,
    salted_agg,
)


def _skewed_df(spark, n=10_000, hot_frac=0.9):
    """One key ('hot') owns 90% of rows — the adversarial group-by case."""
    return (
        spark.range(n)
        .withColumn(
            "key",
            F.when(F.col("id") < int(n * hot_frac), F.lit("hot")).otherwise(
                F.concat(F.lit("cold_"), (F.col("id") % 7).cast("string"))
            ),
        )
        .withColumn("v", (F.col("id") % 100).cast("long"))
    )


def test_salted_agg_matches_plain_groupby(spark):
    df = _skewed_df(spark)
    plain = {
        r["key"]: (r["sum_v"], r["count_key"])
        for r in df.groupBy("key")
        .agg(F.sum("v").alias("sum_v"), F.count(F.lit(1)).alias("count_key"))
        .collect()
    }
    salted = {
        r["key"]: (r["sum_v"], r["count_key"])
        for r in salted_agg(df, "key", {"v": "sum", "key": "count"}, n_salts=8).collect()
    }
    assert salted == plain


def test_salted_agg_min_max(spark):
    df = _skewed_df(spark)
    out = {r["key"]: (r["min_v"], r["max_v"]) for r in
           salted_agg(df, "key", {"v": "min"}, n_salts=4)
           .join(salted_agg(df, "key", {"v": "max"}, n_salts=4), "key")
           .collect()}
    plain = {r["key"]: (r["mn"], r["mx"]) for r in
             df.groupBy("key").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
             .collect()}
    assert out == plain


def test_replicated_salted_join_matches_plain_join(spark):
    left = _skewed_df(spark, n=5_000)
    right = spark.createDataFrame(
        [("hot", 1), ("cold_0", 2), ("cold_3", 3), ("absent", 9)], ["key", "dim"]
    )
    got = (
        replicated_salted_join(left, right, "key", n_salts=4)
        .groupBy("key", "dim")
        .count()
        .collect()
    )
    want = left.join(right, "key").groupBy("key", "dim").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_skew_contract_queries_registered():
    from osm2gtfs_spark.plans import queries as q

    qs, oracles = q.queries(), q.oracle_sql()
    for name in ("salted_agg", "replicated_salted_join"):
        assert name in qs and name in oracles


def test_range_join_bucket_boundaries(spark):
    """range_join: intervals spanning multiple buckets and points at
    exact bounds match the plain BETWEEN semantics."""
    from datetime import datetime

    from osm2gtfs_spark.operators.interval import range_join

    pts = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0)),
            (2, datetime(2024, 1, 1, 0, 59, 59)),
            (3, datetime(2024, 1, 1, 3, 30, 0)),
            (4, datetime(2024, 1, 1, 5, 0, 1)),
        ],
        "event_id long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [
            (10, datetime(2024, 1, 1, 0, 0, 0), datetime(2024, 1, 1, 5, 0, 0)),  # 6-bucket span
            (11, datetime(2024, 1, 1, 3, 30, 0), datetime(2024, 1, 1, 3, 30, 0)),  # zero-length
        ],
        "interval_id long, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        (r.event_id, r.interval_id)
        for r in range_join(pts, iv, bucket_secs=3600).collect()
    )
    assert got == [(1, 10), (2, 10), (3, 10), (3, 11)]


def test_polygon_table_join_matches_literal_filter(spark):
    """polygon_table_join equals the literal-polygon filter applied per
    polygon (bbox-cell equi join introduces no false negatives)."""
    from osm2gtfs_spark.operators.spatial import (
        point_in_convex_polygon,
        polygon_table_join,
    )
    from pyspark.sql import functions as F

    pts = spark.range(400).select(
        F.col("id").alias("pid"),
        (((F.col("id") * 37) % 1200) / 10.0 - 60.0).alias("lat"),
        (((F.col("id") * 91) % 3000) / 10.0 - 150.0).alias("lon"),
    )
    polys = [
        (0, [(-10.0, -10.0), (-10.0, 10.0), (10.0, 10.0), (10.0, -10.0)]),
        (1, [(20.0, 30.0), (25.0, 45.0), (35.0, 30.0), (25.0, 15.0)]),
    ]
    # build the vertex-table form
    rows = [(pid, [{"lat": la, "lon": lo} for la, lo in vs]) for pid, vs in polys]
    pdf = spark.createDataFrame(
        rows, "polygon_id long, vertices array<struct<lat:double,lon:double>>"
    )
    got = {
        (r.pid, r.polygon_id)
        for r in polygon_table_join(pts, pdf, res=4).collect()
    }
    want = set()
    for pid, vs in polys:
        for r in point_in_convex_polygon(pts, vs).collect():
            want.add((r.pid, pid))
    assert got == want and len(want) > 0


def test_winding_polygon_concavity(spark):
    """Even-odd ray cast agrees with a pure-python ray cast on a concave
    polygon, including notch points inside the convex hull but OUTSIDE
    the polygon (where the half-plane test would be wrong)."""
    from osm2gtfs_spark.operators.spatial import point_in_polygon_winding
    from pyspark.sql import functions as F

    poly = [(-40.0, -40.0), (40.0, -20.0), (10.0, 0.0), (40.0, 20.0), (-40.0, 40.0), (-10.0, 0.0)]

    def py_inside(lat, lon):
        n, c = len(poly), 0
        for i in range(n):
            (la1, lo1), (la2, lo2) = poly[i], poly[(i + 1) % n]
            if (la1 > lat) != (la2 > lat) and lon < (lo2 - lo1) * (lat - la1) / (la2 - la1) + lo1:
                c += 1
        return c % 2 == 1

    pts = spark.range(500).select(
        F.col("id").alias("pid"),
        (((F.col("id") * 17) % 1000) / 10.0 - 50.0).alias("lat"),
        (((F.col("id") * 29) % 1000) / 10.0 - 50.0).alias("lon"),
    )
    got = {r.pid for r in point_in_polygon_winding(pts, poly).collect()}
    rows = pts.collect()
    want = {r.pid for r in rows if py_inside(r.lat, r.lon)}
    assert got == want and 0 < len(want) < len(rows)
    # concavity witness: the notch point (30, 0) is in the convex hull
    # but outside the polygon
    notch = spark.createDataFrame([(0, 30.0, 0.0)], "pid long, lat double, lon double")
    assert point_in_polygon_winding(notch, poly).count() == 0


def test_winding_polygon_horizontal_edges_ansi(spark):
    """Axis-aligned rectangles (horizontal edges) must work, even under
    an ANSI-on session (the skipped edges avoid a /0)."""
    from osm2gtfs_spark.operators.spatial import point_in_polygon_winding
    from pyspark.sql import functions as F

    rect = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]  # CCW in (lat,lon)
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 15.0, 5.0), (3, 5.0, 15.0), (4, -1.0, 5.0)],
        "pid long, lat double, lon double",
    )
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {r.pid for r in point_in_polygon_winding(pts, rect).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")
    assert got == {1}


def test_cell_rollup_equals_direct(spark, sf_dir):
    """rollup(res8→res4) must equal aggregating at res 4 directly."""
    from osm2gtfs_spark.functions.geo import cell_id, cell_parent
    from osm2gtfs_spark.sources import tpch
    from pyspark.sql import functions as F

    s = tpch.stops(spark, sf_dir)
    fine = s.groupBy(cell_id("lat", "lon", 8).alias("c8")).agg(F.count(F.lit(1)).alias("n"))
    rolled = fine.groupBy(cell_parent("c8", 8, 4).alias("cell_id")).agg(
        F.sum("n").alias("n_points")
    )
    direct = s.groupBy(cell_id("lat", "lon", 4).alias("cell_id")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    assert rolled.exceptAll(direct).count() == 0
    assert direct.exceptAll(rolled).count() == 0


def test_rolling_event_stats_semantics(spark):
    """RANGE-frame rolling stats: inclusive trailing window, ties share
    frames, keys independent."""
    import datetime as dt

    from osm2gtfs_spark.operators.interval import rolling_event_stats

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 10, t0, 1.0),
        (2, 10, t0 + dt.timedelta(minutes=30), 2.0),
        (3, 10, t0 + dt.timedelta(minutes=61), 4.0),   # e1 out of window
        (4, 10, t0 + dt.timedelta(minutes=61), 8.0),   # tie with e3
        (5, 99, t0 + dt.timedelta(minutes=31), 16.0),  # other key
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    got = {r.event_id: (r.n_window, r.sum_value_x100) for r in rolling_event_stats(df).collect()}
    assert got[1] == (1, 100)
    assert got[2] == (2, 300)
    assert got[3] == (3, 1400)  # e2 + both tied events; e1 aged out
    assert got[4] == (3, 1400)  # tie shares the identical frame
    assert got[5] == (1, 1600)


def test_grouped_median_exactness(spark):
    """Lower-median selection: odd/even group sizes, duplicate values,
    singleton groups."""
    from osm2gtfs_spark.operators.aggregates import grouped_median

    rows = [("a", v) for v in [5, 1, 3]]          # odd -> 3
    rows += [("b", v) for v in [4, 1, 2, 9]]       # even -> lower middle 2
    rows += [("c", v) for v in [7, 7, 7, 1]]       # dups -> 7
    rows += [("d", 42)]                            # singleton -> 42
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r.median for r in grouped_median(df, "g", "v").collect()}
    assert got == {"a": 3, "b": 2, "c": 7, "d": 42}


def test_grouped_median_ignores_nulls(spark):
    """NULL values are excluded before ranking (ADVICE r4): Spark sorts
    NULLs first under asc, which would otherwise shift the selected rank
    and could return a NULL median. The median is over the non-null
    population; an all-NULL group emits no row (like AVG/COUNT-over-null
    semantics)."""
    from osm2gtfs_spark.operators.aggregates import grouped_median

    rows = [("a", 5), ("a", None), ("a", 1), ("a", None), ("a", 3)]
    rows += [("b", None), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r.median for r in grouped_median(df, "g", "v").collect()}
    assert got == {"a": 3}  # nulls neither selected nor rank-shifting


def test_grouped_quantiles_exact(spark):
    """Quantile selection: q=50 equals the lower median; q=100 is the
    max; singleton groups answer every quantile with their value;
    nulls excluded; bad percents rejected."""
    from osm2gtfs_spark.operators.aggregates import grouped_median, grouped_quantiles

    rows = [("a", v) for v in [10, 20, 30, 40]]
    rows += [("b", 7), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {(r.g, r.q): r.value for r in grouped_quantiles(df, "g", "v", (25, 50, 100)).collect()}
    assert got[("a", 25)] == 10   # ceil(4*.25)=1st
    assert got[("a", 50)] == 20   # lower median
    assert got[("a", 100)] == 40  # max
    assert got[("b", 25)] == got[("b", 50)] == got[("b", 100)] == 7
    med = {r.g: r.median for r in grouped_median(df, "g", "v").collect()}
    assert {g: v for (g, q), v in got.items() if q == 50} == med
    import pytest as _pt

    with _pt.raises(ValueError, match="quantiles"):
        grouped_quantiles(df, "g", "v", (0, 50))


def test_topk_per_group_deterministic_ties(spark):
    """Tie rows select deterministically via tie_cols; ascending flag
    flips the extreme; k >= group size returns the whole group."""
    from osm2gtfs_spark.operators.aggregates import topk_per_group

    rows = [("g", 1, 5), ("g", 2, 9), ("g", 3, 9), ("g", 4, 1), ("h", 5, 2)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    top2 = {(r.g, r.rank): r.id for r in topk_per_group(df, "g", "v", 2, tie_cols=("id",)).collect()}
    assert top2[("g", 1)] == 2 and top2[("g", 2)] == 3  # tie broken on id asc
    assert top2[("h", 1)] == 5
    bot1 = {r.g: r.id for r in topk_per_group(df, "g", "v", 1, ascending=True, tie_cols=("id",)).collect()}
    assert bot1 == {"g": 4, "h": 5}
    assert topk_per_group(df, "g", "v", 99, tie_cols=("id",)).count() == 5
