"""Spatial joins vs numpy brute-force oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.config import EXTENT
from egp_crn_spark.functions import geomkernel as GK
from egp_crn_spark.operators import spatial_join as SJ
from tests import plans


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(7)


def _rects(rng, n, size_lo, size_hi, id_name, prefix):
    x = rng.uniform(0, EXTENT * 0.95, n)
    y = rng.uniform(0, EXTENT * 0.95, n)
    w = rng.uniform(size_lo, size_hi, n)
    h = rng.uniform(size_lo, size_hi, n)
    return pd.DataFrame(
        {
            id_name: np.arange(1, n + 1, dtype=np.int64),
            f"{prefix}xmin": x, f"{prefix}ymin": y,
            f"{prefix}xmax": np.minimum(x + w, EXTENT), f"{prefix}ymax": np.minimum(y + h, EXTENT),
        }
    )


def test_rect_intersects_join_matches_bruteforce(spark, rng):
    a = _rects(rng, 150, 200, 2000, "a_id", "a")
    b = _rects(rng, 80, 500, 5000, "b_id", "b")
    got = (
        SJ.rect_intersects_join(spark.createDataFrame(a), spark.createDataFrame(b), res=6)
        .select("a_id", "b_id", "overlap_area")
        .toPandas()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    # brute force
    rows = []
    for _, ra in a.iterrows():
        for _, rb in b.iterrows():
            w = min(ra.axmax, rb.bxmax) - max(ra.axmin, rb.bxmin)
            h = min(ra.aymax, rb.bymax) - max(ra.aymin, rb.bymin)
            if w >= 0 and h >= 0:
                rows.append((ra.a_id, rb.b_id, max(w, 0) * max(h, 0)))
    want = pd.DataFrame(rows, columns=["a_id", "b_id", "overlap_area"]).sort_values(
        ["a_id", "b_id"]
    ).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got.a_id.values == want.a_id.values).all()
    assert (got.b_id.values == want.b_id.values).all()
    np.testing.assert_allclose(got.overlap_area.values, want.overlap_area.values, rtol=1e-9)


def test_rect_join_no_duplicate_pairs(spark, rng):
    # big rects covering many cells must still produce one row per pair
    a = _rects(rng, 40, 5000, 20000, "a_id", "a")
    b = _rects(rng, 40, 5000, 20000, "b_id", "b")
    got = SJ.rect_intersects_join(spark.createDataFrame(a), spark.createDataFrame(b), res=8)
    pairs = got.select("a_id", "b_id").toPandas()
    assert not pairs.duplicated().any()


def test_rect_join_is_pure_jvm(spark, rng):
    a = _rects(rng, 10, 200, 2000, "a_id", "a")
    b = _rects(rng, 10, 500, 5000, "b_id", "b")
    df = SJ.rect_intersects_join(spark.createDataFrame(a), spark.createDataFrame(b), res=6)
    plans.assert_pure_jvm(df)


def _points(rng, n, id_name, px, py):
    return pd.DataFrame(
        {
            id_name: np.arange(1, n + 1, dtype=np.int64),
            px: rng.uniform(0, EXTENT, n),
            py: rng.uniform(0, EXTENT, n),
        }
    )


def test_distance_join_matches_bruteforce(spark, rng):
    left = _points(rng, 300, "l_id", "lx", "ly")
    # right points clustered near left points so matches exist
    right = left.rename(columns={"l_id": "r_id", "lx": "rx", "ly": "ry"}).copy()
    right["rx"] += rng.uniform(-300, 300, len(right))
    right["ry"] += rng.uniform(-300, 300, len(right))
    radius = 250.0
    got = (
        SJ.distance_join(spark.createDataFrame(left), spark.createDataFrame(right), radius)
        .select("l_id", "r_id", "dist")
        .toPandas()
        .sort_values(["l_id", "r_id"])
        .reset_index(drop=True)
    )
    dx = left.lx.values[:, None] - right.rx.values[None, :]
    dy = left.ly.values[:, None] - right.ry.values[None, :]
    d = np.sqrt(dx * dx + dy * dy)
    li, ri = np.nonzero(d <= radius)
    want = pd.DataFrame(
        {"l_id": left.l_id.values[li], "r_id": right.r_id.values[ri], "dist": d[li, ri]}
    ).sort_values(["l_id", "r_id"]).reset_index(drop=True)
    assert len(got) == len(want)
    np.testing.assert_allclose(got.dist.values, want.dist.values, rtol=1e-9)
    plans.assert_pure_jvm(
        SJ.distance_join(spark.createDataFrame(left), spark.createDataFrame(right), radius)
    )


def test_knn_join_matches_bruteforce(spark, rng):
    left = _points(rng, 200, "l_id", "lx", "ly")
    right = _points(rng, 400, "r_id", "rx", "ry")
    maxd = 4000.0
    got = (
        SJ.knn_join(spark.createDataFrame(left), spark.createDataFrame(right), k=1,
                    max_distance=maxd)
        .select("l_id", "r_id", "dist")
        .toPandas()
        .set_index("l_id")
    )
    dx = left.lx.values[:, None] - right.rx.values[None, :]
    dy = left.ly.values[:, None] - right.ry.values[None, :]
    d = np.sqrt(dx * dx + dy * dy)
    for i, lid in enumerate(left.l_id.values):
        j = int(np.argmin(d[i]))
        if d[i, j] <= maxd:
            assert lid in got.index
            assert got.loc[lid, "r_id"] == right.r_id.values[j]
            assert got.loc[lid, "dist"] == pytest.approx(d[i, j])
        else:
            assert lid not in got.index


def test_point_in_polygon_join_with_boundaries(spark, fixtures_dir):
    polys_pd = pd.read_parquet(f"{fixtures_dir}/boundaries.parquet").rename(
        columns={"bb_uid": "poly_id"}
    )
    rng = np.random.default_rng(11)
    pts = _points(rng, 500, "p_id", "x", "y")
    got = (
        SJ.point_in_polygon_join(
            spark.createDataFrame(pts),
            spark.createDataFrame(polys_pd),
            res=6,
        )
        .select("p_id", "poly_id")
        .toPandas()
        .sort_values("p_id")
    )
    # boundaries partition the domain → every point in exactly one polygon
    assert len(got) == len(pts)
    assert got.p_id.is_unique
    # numpy oracle
    want = {}
    polys_np = [(r.poly_id, np.array([list(p) for p in r.vertices])) for r in polys_pd.itertuples()]
    for r in pts.itertuples():
        for pid, arr in polys_np:
            if GK.points_in_polygon(np.array([r.x]), np.array([r.y]), arr)[0]:
                want[r.p_id] = pid
                break
    got_map = dict(zip(got.p_id, got.poly_id))
    assert got_map == want


def test_grid_kernel_matches_join_path(spark, rng):
    """r9 broadcast-grid kernel == the cell equi-join path, bit-exact:
    same pair set, same float64 dist, same column order — for the plain
    radius join AND the knn pre-reduced form (k=1 and k>1)."""
    n_l, n_r = 800, 1200
    left = _points(rng, n_l, "l_id", "lx", "ly")
    right = _points(rng, n_r, "r_id", "rx", "ry")
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    for radius in (400.0, 3000.0):
        a = (SJ.distance_join(ldf, rdf, radius)
             .toPandas().sort_values(["l_id", "r_id"]).reset_index(drop=True))
        b = (SJ.distance_join(ldf, rdf, radius, broadcast_right=True)
             .toPandas().sort_values(["l_id", "r_id"]).reset_index(drop=True))
        assert a.columns.tolist() == b.columns.tolist()
        assert len(a) == len(b)
        for c in a.columns:
            assert (a[c].values == b[c].values).all(), c
    for k in (1, 3):
        a = (SJ.knn_join(ldf, rdf, k=k, max_distance=2500.0)
             .toPandas().sort_values(["l_id", "knn_rank"]).reset_index(drop=True))
        b = (SJ.knn_join(ldf, rdf, k=k, max_distance=2500.0,
                         broadcast_right=True)
             .toPandas().sort_values(["l_id", "knn_rank"]).reset_index(drop=True))
        assert a.columns.tolist() == b.columns.tolist()
        assert len(a) == len(b)
        for c in a.columns:
            assert (a[c].values == b[c].values).all(), c


def test_grid_kernel_null_coords_and_empty_right(spark, rng):
    """Null/NaN coordinates drop (join-path parity: a null cell never
    matches); an empty right side yields an empty result, not an error."""
    left = _points(rng, 50, "l_id", "lx", "ly")
    left.loc[0, "lx"] = np.nan
    right = _points(rng, 50, "r_id", "rx", "ry")
    right.loc[1, "ry"] = np.nan
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    a = (SJ.distance_join(ldf, rdf, 5000.0)
         .toPandas().sort_values(["l_id", "r_id"]).reset_index(drop=True))
    b = (SJ.distance_join(ldf, rdf, 5000.0, broadcast_right=True)
         .toPandas().sort_values(["l_id", "r_id"]).reset_index(drop=True))
    assert len(a) == len(b)
    assert (a["l_id"].values == b["l_id"].values).all()
    empty = SJ.distance_join(
        ldf, spark.createDataFrame(right).filter(F.col("r_id") < 0),
        1000.0, broadcast_right=True)
    assert empty.count() == 0


def _grid_caller(spark, rng):
    left = spark.createDataFrame(_points(rng, 20, "l_id", "lx", "ly"))
    right = spark.createDataFrame(_points(rng, 31, "r_id", "rx", "ry"))
    return lambda: SJ.distance_join(left, right, 1000.0, broadcast_right=True)


def _pip_caller(spark, rng):
    pts = spark.createDataFrame(_points(rng, 20, "p_id", "x", "y"))
    e = EXTENT / 31
    polys = spark.createDataFrame(pd.DataFrame({
        "poly_id": np.arange(31, dtype=np.int64),
        "vertices": [[[i * e, 0.0], [(i + 1) * e, 0.0], [(i + 1) * e, EXTENT],
                      [i * e, EXTENT], [i * e, 0.0]] for i in range(31)]}))
    return lambda: SJ.point_in_polygon_join(pts, polys, res=4)


@pytest.mark.parametrize("bound,make", [
    ("MAX_GRID_RIGHT_ROWS", _grid_caller),
    ("MAX_BROADCAST_POLYS", _pip_caller),
], ids=["grid", "pip"])
def test_grid_kernel_rejects_oversize_right(spark, rng, monkeypatch, bound, make):
    """Both driver-side collects go through guard.collect_bounded: a planted
    collected side of 31 rows, one row over the bound, raises at
    construction; exactly at the bound it runs."""
    build = make(spark, rng)
    monkeypatch.setattr(SJ, bound, 30)
    with pytest.raises(ValueError, match=rf"{bound}.*more than 30 rows"):
        build()
    monkeypatch.setattr(SJ, bound, 31)
    assert build().count() >= 0


def test_grid_kernel_rejects_wrapping_keys(spark):
    """|floor(coord / radius)| >= 2**31 would wrap the packed grid key:
    a tiny radius against huge coordinates raises on either side, while
    indices just below the bound still join exactly."""
    s = 1e-3
    far = float(2 ** 31) * s
    near = float(2 ** 31 - 2) * s
    ok_l = spark.createDataFrame([(1, near, near)], "l_id long, lx double, ly double")
    ok_r = spark.createDataFrame([(1, near, near)], "r_id long, rx double, ry double")
    bad_l = spark.createDataFrame([(1, far, 0.0)], "l_id long, lx double, ly double")
    bad_r = spark.createDataFrame([(1, 0.0, -far)], "r_id long, rx double, ry double")
    with pytest.raises(ValueError, match="grid keys wrap"):
        SJ.distance_join(ok_l, bad_r, s, broadcast_right=True)
    with pytest.raises(Exception, match="grid keys wrap"):
        SJ.distance_join(bad_l, ok_r, s, broadcast_right=True).collect()
    got = SJ.distance_join(ok_l, ok_r, s, broadcast_right=True).collect()
    assert [(r.l_id, r.r_id, r.dist) for r in got] == [(1, 1, 0.0)]
