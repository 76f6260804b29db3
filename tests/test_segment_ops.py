"""Segment intersection join, dwell detection, turn classification
(operators/spatial.py tail) on hand-built geometry where every expected
pair / run / sign is known by construction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm2gtfs_spark.operators.spatial import (
    dwell_detect,
    segment_intersections,
    turn_classify,
)


def _segs(spark, rows, idc):
    return spark.createDataFrame(
        rows, f"{idc} long, lat1 double, lon1 double, lat2 double, lon2 double"
    )


def test_segment_intersections_basic_cross(spark):
    # a plus sign: horizontal × vertical cross at their midpoints
    a = _segs(spark, [(1, 0.0, -1.0, 0.0, 1.0)], "a_id")
    b = _segs(spark, [(10, -1.0, 0.0, 1.0, 0.0)], "b_id")
    out = segment_intersections(a, b, res=6).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.a_id, r.b_id) == (1, 10)
    assert r.t_permille == 500 and r.u_permille == 500


def test_segment_intersections_excludes_touching_and_disjoint(spark):
    a = _segs(spark, [(1, 0.0, -1.0, 0.0, 1.0)], "a_id")
    b = _segs(
        spark,
        [
            (10, 0.0, 1.0, 1.0, 1.0),    # touches a's endpoint only
            (11, 5.0, 5.0, 6.0, 5.0),    # far away
            (12, 1.0, -1.0, 1.0, 1.0),   # parallel above
        ],
        "b_id",
    )
    assert segment_intersections(a, b, res=6).count() == 0


def test_segment_intersections_cross_cell_pair_found_once(spark):
    # segments crossing near a cell boundary at res=6 (cell = 5.625 deg):
    # candidate appears from multiple shared cover cells; output must be
    # exactly one row
    a = _segs(spark, [(1, 0.0, 5.0, 0.0, 6.5)], "a_id")
    b = _segs(spark, [(10, -0.5, 5.6, 0.5, 5.7)], "b_id")
    out = segment_intersections(a, b, res=6).collect()
    assert len(out) == 1


def test_segment_intersections_quarter_position(spark):
    # b crosses a at a's 1/4 point
    a = _segs(spark, [(1, 0.0, 0.0, 0.0, 4.0)], "a_id")
    b = _segs(spark, [(10, -1.0, 1.0, 1.0, 1.0)], "b_id")
    r = segment_intersections(a, b, res=6).collect()[0]
    assert r.t_permille == 250 and r.u_permille == 500


def test_segment_intersections_max_cells_guard(spark):
    # a near-global segment at a fine res must fail loudly, not explode
    a = _segs(spark, [(1, -80.0, -160.0, 80.0, 160.0)], "a_id")
    b = _segs(spark, [(10, -1.0, 0.0, 1.0, 0.0)], "b_id")
    with pytest.raises(Exception, match="max_cells"):
        segment_intersections(a, b, res=12).count()


def _trace(spark, pts):
    return spark.createDataFrame(
        [(0, i, lat, lon) for i, (lat, lon) in enumerate(pts)],
        "trace_id long, obs_seq long, lat double, lon double",
    )


def test_dwell_detect_single_run(spark):
    # 4 still points, a jump, 2 still points (run of 1 step — below min)
    still = [(10.0, 20.0), (10.0, 20.000001), (10.000001, 20.0), (10.0, 20.0)]
    jump = [(11.0, 21.0), (11.0, 21.000001)]
    out = dwell_detect(_trace(spark, still + jump), step_thr=0.00001, min_run=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.dwell_id, r.start_seq, r.end_seq, r.n_points) == (1, 0, 3, 4)


def test_dwell_detect_two_runs_ordinal_ids(spark):
    still3 = [(0.0, 0.0), (0.0, 0.000001), (0.0, 0.000002)]
    far = [(5.0, 5.0)]
    still4 = [(9.0, 9.0), (9.0, 9.000001), (9.0, 9.000002), (9.0, 9.000003)]
    out = dwell_detect(
        _trace(spark, still3 + far + still4), step_thr=0.00001, min_run=3
    ).collect()
    out.sort(key=lambda r: r.dwell_id)
    assert [(r.dwell_id, r.start_seq, r.end_seq, r.n_points) for r in out] == [
        (1, 0, 2, 3),
        (2, 4, 7, 4),
    ]


def test_dwell_detect_no_dwell(spark):
    moving = [(float(i), float(i)) for i in range(6)]
    assert dwell_detect(_trace(spark, moving), step_thr=0.00001).count() == 0


def test_turn_classify_square_and_straight(spark):
    # walk a left-turning square corner then straight on
    pts = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (2.0, 1.0), (3.0, 1.0)]
    verts = spark.createDataFrame(
        [(0, i, lat, lon) for i, (lat, lon) in enumerate(pts)],
        "shape_id long, seq long, lat double, lon double",
    )
    out = {r.seq: r.turn for r in turn_classify(verts).collect()}
    # seq 1: east then north = left; seq 2,3: straight north
    assert out == {1: "L", 2: "S", 3: "S"}


def test_turn_classify_right_and_deadband(spark):
    pts = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0000001, 2.0)]
    verts = spark.createDataFrame(
        [(0, i, lat, lon) for i, (lat, lon) in enumerate(pts)],
        "shape_id long, seq long, lat double, lon double",
    )
    out = {r.seq: r.turn for r in turn_classify(verts).collect()}
    assert out[1] == "R"  # north then east = right
    # with a deadband the slight wobble at seq 2 reads straight
    out_eps = {
        r.seq: r.turn
        for r in turn_classify(verts, straight_eps_deg2=2.0).collect()
    }
    assert out_eps[2] == "S"
