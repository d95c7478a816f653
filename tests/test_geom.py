"""Geometry kernels (numpy) + Column geometry expressions."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.functions import geomexpr as GX
from egp_crn_spark.functions import geomkernel as GK
from tests.twins import point_to_polyline_distance


# ---------------------------------------------------------------- numpy kernels
def test_points_in_polygon_square():
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    xs = np.array([5.0, 15.0, -1.0, 9.999])
    ys = np.array([5.0, 5.0, 5.0, 0.001])
    assert GK.points_in_polygon(xs, ys, sq).tolist() == [True, False, False, True]


def test_points_in_polygon_concave():
    # L-shape: point in the notch is outside
    poly = np.array([[0, 0], [4, 0], [4, 4], [2, 4], [2, 2], [0, 2]], dtype=float)
    xs = np.array([1.0, 3.0, 1.0])
    ys = np.array([1.0, 3.0, 3.0])  # (1,3) sits in the notch [0,2]x[2,4]
    assert GK.points_in_polygon(xs, ys, poly).tolist() == [True, True, False]


def test_convex_clip_area_rects():
    a = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    b = np.array([[2, 2], [6, 2], [6, 6], [2, 6]], dtype=float)
    assert GK.convex_clip_area(a, b) == pytest.approx(4.0)
    assert GK.convex_clip_area(a, a) == pytest.approx(16.0)
    far = b + 100
    assert GK.convex_clip_area(a, far) == 0.0


def test_convex_clip_area_triangle():
    tri = np.array([[0, 0], [4, 0], [0, 4]], dtype=float)
    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    assert GK.convex_clip_area(tri, sq) == pytest.approx(8.0)


def test_polylines_cross():
    a = np.array([[0, 0], [2, 2]], dtype=float)
    b = np.array([[0, 2], [2, 0]], dtype=float)
    c = np.array([[0, 0], [0, 2]], dtype=float)  # shares endpoint with a
    assert GK.polylines_cross(a, b)
    assert not GK.polylines_cross(a, c)  # endpoint touch is not a crossing


def test_polyline_is_simple():
    bowtie = np.array([[0, 0], [2, 2], [2, 0], [0, 2]], dtype=float)
    straight = np.array([[0, 0], [1, 0], [2, 0]], dtype=float)
    assert not GK.polyline_is_simple(bowtie)
    assert GK.polyline_is_simple(straight)


def test_linear_referencing():
    line = np.array([[0, 0], [10, 0], [10, 10]], dtype=float)
    assert GK.line_interpolate(line, 15.0).tolist() == [10.0, 5.0]
    assert GK.line_locate(line, 10.0, 5.0) == pytest.approx(15.0)
    assert point_to_polyline_distance(5.0, 3.0, line) == pytest.approx(3.0)


def test_split_line_at_distances():
    line = np.array([[0, 0], [10, 0]], dtype=float)
    pieces = GK.split_line_at_distances(line, [4.0, 7.0])
    assert len(pieces) == 3
    assert pieces[0][-1].tolist() == [4.0, 0.0]
    assert pieces[1][0].tolist() == [4.0, 0.0]
    assert pieces[2][-1].tolist() == [10.0, 0.0]
    # total length preserved
    total = sum(GK.cum_lengths(p)[-1] for p in pieces)
    assert total == pytest.approx(10.0)


# ---------------------------------------------------------------- Column exprs
@pytest.fixture(scope="module")
def geo_df(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2],
            "vertices": [
                [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]],
                [[1.0, 1.0], [1.0, 1.0], [4.0, 5.0]],  # dup adjacent vertex
            ],
        }
    )
    return spark.createDataFrame(pdf)


def test_line_length_expr(geo_df):
    rows = geo_df.select("id", GX.line_length(F.col("vertices")).alias("len")).collect()
    got = {r.id: r.len for r in rows}
    assert got[1] == pytest.approx(20.0)
    assert got[2] == pytest.approx(5.0)


def test_endpoints_expr(geo_df):
    r = geo_df.filter("id = 1").select(
        GX.start_point(F.col("vertices")).alias("s"),
        GX.end_point(F.col("vertices")).alias("e"),
    ).first()
    assert list(r.s) == [0.0, 0.0]
    assert list(r.e) == [10.0, 10.0]


def test_dedup_adjacent_vertices_expr(geo_df):
    r = geo_df.filter("id = 2").select(
        GX.dedup_adjacent_vertices(F.col("vertices")).alias("v")
    ).first()
    assert [list(p) for p in r.v] == [[1.0, 1.0], [4.0, 5.0]]


def test_ring_area_expr(spark):
    pdf = pd.DataFrame({"vertices": [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]]]})
    r = spark.createDataFrame(pdf).select(GX.ring_area(F.col("vertices")).alias("a")).first()
    assert r.a == pytest.approx(16.0)


def test_geom_checksum_direction_insensitive(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "vertices": [
                [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0]],
                [[1.0, 1.0], [1.0, 0.0], [0.0, 0.0]],  # reversed
                [[0.0, 0.0], [1.0, 0.0], [2.0, 1.0]],  # different
            ],
        }
    )
    rows = spark.createDataFrame(pdf).select(
        "id", GX.geom_checksum(F.col("vertices")).alias("ck")
    ).collect()
    ck = {r.id: r.ck for r in rows}
    assert ck[1] == ck[2]
    assert ck[1] != ck[3]


def test_min_segment_length_expr(spark):
    pdf = pd.DataFrame({"vertices": [[[0.0, 0.0], [0.004, 0.0], [1.0, 0.0]]]})
    r = spark.createDataFrame(pdf).select(
        GX.min_segment_length(F.col("vertices")).alias("m")
    ).first()
    assert r.m == pytest.approx(0.004)


def test_rect_overlap_area_expr(spark):
    df = spark.range(1).select(
        GX.rect_overlap_area(
            F.lit(0.0), F.lit(0.0), F.lit(4.0), F.lit(4.0),
            F.lit(2.0), F.lit(2.0), F.lit(6.0), F.lit(6.0),
        ).alias("a")
    )
    assert df.first().a == pytest.approx(4.0)
