"""Cell-backend conformance contract (functions/cells.py docstring).

Any cell backend (the Morton default, or an h3-backed twin on a real
cluster) must pass these axioms — every spatial operator's correctness
proof relies on them, not on square-cell geometry specifically.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from egp_crn_spark.config import EXTENT
from egp_crn_spark.functions import cells as morton_cells
from tests import cells_rowmajor


try:
    from egp_crn_spark.functions import cells_h3  # noqa: F401

    _HAS_H3 = True
except ImportError:
    _HAS_H3 = False

_H3_PARAM = pytest.param(
    "h3",
    marks=pytest.mark.skipif(
        not _HAS_H3, reason="h3 library not installed in this environment"
    ),
)


def _backend(name):
    if name == "morton":
        return morton_cells
    if name == "rowmajor":
        return cells_rowmajor
    if name == "s2":
        from egp_crn_spark.functions import cells_s2 as b

        return b
    from egp_crn_spark.functions import cells_h3 as b

    return b


def _kring_of_xy(B, x, y, res: int, k: int = 1):
    """k-ring of the cell holding (x, y) on backend ``B``, own cell
    included. The square grids answer through the form the distance
    joins build, ``kring_cells(*xy_to_ixy(x, y))``. The engine's S2 and
    h3 backends only encode, so their rings come from the test-side S2
    neighbour oracle (tests/s2_neighbours.py) and from h3.grid_disk."""
    if hasattr(B, "kring_cells"):
        return B.kring_cells(*B.xy_to_ixy(x, y, res), res, k)
    if B.__name__.endswith("cells_s2"):
        from tests.s2_neighbours import all_neighbors

        @F.pandas_udf(ArrayType(LongType()))
        def ring(xs: pd.Series, ys: pd.Series) -> pd.Series:
            cells = B.cell_of_xy_np(xs.to_numpy(), ys.to_numpy(), res) \
                .view(np.uint64).reshape(-1, 1)
            for _ in range(k):
                nbrs = all_neighbors(cells.ravel(), res) \
                    .reshape(cells.shape[0], -1)
                cells = np.concatenate([cells, nbrs], axis=1)
            return pd.Series([list(np.unique(row).view(np.int64))
                              for row in cells])

        return ring(x, y)

    @F.pandas_udf(ArrayType(LongType()))
    def disk(xs: pd.Series, ys: pd.Series) -> pd.Series:
        lat, lng = B._to_latlng(xs.to_numpy(), ys.to_numpy())
        return pd.Series([
            [int(c) for c in B._grid_disk(B._latlng_to_cell(la, ln, res), k)]
            for la, ln in zip(lat, lng)])

    return disk(x, y)


@pytest.fixture(scope="module", params=["morton", "rowmajor"])
def C(request):
    """Square-grid backends: these tests exercise the ix/iy internals
    (cell_encode, idx_of, domain clamping, the three renderers) that an
    h3 backend deliberately does not have. The row-major module exists
    precisely to prove the operators' contract does not depend on
    Z-order bit structure (h3 swap-readiness)."""
    return _backend(request.param)


@pytest.fixture(scope="module", params=["morton", "rowmajor", "s2", _H3_PARAM])
def CB(request):
    """ALL backends, including the native S2 geodesic backend (always
    available — pure numpy) and real h3 when the library is importable
    (skipped, not failed, where it is not): the backend-agnostic axioms
    below reach cells only through the point API — cell_of_xy,
    parent_cell, res_for_radius, cell_size — which is the exact surface
    the operators use through the cells.py seam, plus the k-ring of a
    point (``_kring_of_xy``)."""
    return _backend(request.param)


@pytest.fixture(scope="module")
def pts(spark):
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "x": rng.uniform(0, EXTENT, 500),
        "y": rng.uniform(0, EXTENT, 500),
    })
    # include domain corners and edges (clamping paths)
    edge = pd.DataFrame({
        "x": [0.0, EXTENT - 1e-9, 0.0, EXTENT - 1e-9, EXTENT / 2, -5.0, EXTENT + 5.0],
        "y": [0.0, EXTENT - 1e-9, EXTENT - 1e-9, 0.0, EXTENT / 2, -5.0, EXTENT + 5.0],
    })
    return spark.createDataFrame(pd.concat([pdf, edge], ignore_index=True))


def test_parent_containment(pts, CB):
    """cell_of_xy at a coarse res == parent of cell_of_xy at a fine res —
    the hierarchy axiom behind compact/uncompact and tile rollups."""
    for fine, coarse in [(10, 4), (12, 10), (8, 0)]:
        bad = pts.filter(
            CB.parent_cell(CB.cell_of_xy(F.col("x"), F.col("y"), fine), fine, coarse)
            != CB.cell_of_xy(F.col("x"), F.col("y"), coarse)
        ).count()
        assert bad == 0, (fine, coarse)


def test_res_encoded_and_disjoint(pts, CB):
    """Cell ids at different resolutions never collide (res is part of
    the id) — multi-resolution cell sets can share one column."""
    a = {r["c"] for r in pts.select(CB.cell_of_xy(F.col("x"), F.col("y"), 7).alias("c")).collect()}
    b = {r["c"] for r in pts.select(CB.cell_of_xy(F.col("x"), F.col("y"), 8).alias("c")).collect()}
    assert not (a & b)


def test_kring_of_xy_contains_own_cell(spark, CB):
    """Backend-agnostic ring axiom via the POINT API: the k-ring(1) of an
    interior point contains the point's own cell and all immediate
    neighbours (>= 7 distinct cells — 7 for hexagons, 9 for squares)."""
    df = spark.createDataFrame(
        pd.DataFrame({"x": [EXTENT / 2], "y": [EXTENT / 2]}))
    res = 6
    out = df.select(
        CB.cell_of_xy(F.col("x"), F.col("y"), res).alias("own"),
        _kring_of_xy(CB, F.col("x"), F.col("y"), res, 1).alias("ring"),
    ).collect()[0]
    assert out["own"] in out["ring"]
    assert len(set(out["ring"])) >= 7


def test_kring_contains_own_cell_and_neighbours(spark, C):
    """k-ring(1) of an interior cell = its 3x3 neighbourhood, includes
    itself; domain corners clamp to the 2x2 quadrant."""
    df = spark.createDataFrame(
        pd.DataFrame({"x": [EXTENT / 2, 1e-6], "y": [EXTENT / 2, 1e-6]}))
    res = 6
    ix, iy = C.xy_to_ixy(F.col("x"), F.col("y"), res)
    out = df.select(
        C.cell_of_xy(F.col("x"), F.col("y"), res).alias("own"),
        C.kring_cells(ix, iy, res, 1).alias("ring"),
    ).collect()
    interior, corner = out
    assert interior["own"] in interior["ring"] and len(interior["ring"]) == 9
    assert corner["own"] in corner["ring"] and len(corner["ring"]) == 4
    assert len(set(interior["ring"])) == 9  # all distinct


def test_res_for_radius_covers(spark, CB):
    """THE coverage invariant: two points within `radius` of each other
    share >= 1 cell between one side's k-ring(1) and the other side's
    own cell, at res_for_radius(radius). Backend-agnostic via the point
    API — for hexagons the guarantee comes from min-width >= radius, for
    squares from cell_size >= radius; both surface as cell_size."""
    rng = np.random.default_rng(11)
    radius = 300.0
    res = CB.res_for_radius(radius)
    assert CB.cell_size(res) >= radius
    if res < CB.MAX_RES:
        assert CB.cell_size(res + 1) < radius
    ax = rng.uniform(0, EXTENT, 400)
    ay = rng.uniform(0, EXTENT, 400)
    theta = rng.uniform(0, 2 * np.pi, 400)
    r = rng.uniform(0, radius, 400)
    bx = np.clip(ax + r * np.cos(theta), 0, EXTENT - 1e-9)
    by = np.clip(ay + r * np.sin(theta), 0, EXTENT - 1e-9)
    keep = np.hypot(ax - bx, ay - by) <= radius  # clipping may shorten; fine
    df = spark.createDataFrame(pd.DataFrame(
        {"ax": ax[keep], "ay": ay[keep], "bx": bx[keep], "by": by[keep]}))
    missed = df.filter(
        ~F.arrays_overlap(
            _kring_of_xy(CB, F.col("ax"), F.col("ay"), res, 1),
            F.array(CB.cell_of_xy(F.col("bx"), F.col("by"), res)),
        )
    ).count()
    assert missed == 0


@pytest.mark.skipif(not _HAS_H3, reason="h3 library not installed in this environment")
@pytest.mark.parametrize("patch", [(0.0, 0.0), (45.5, -73.6)],
                         ids=["equator", "midlat"])
@pytest.mark.parametrize("res", [7, 8, 9, 10])
def test_h3_measured_width_covers_res7_to_10(res, patch):
    """VERDICT r5 #8: the measured-min-width bound, asserted per res
    (7-10) and per patch location (equatorial + mid-latitude, where
    icosahedron distortion and longitude shrink differ). Driver-side
    geometry only — pure h3 calls through the module's patch mapping:
    400 random point pairs within radius = cell_size(res) must share a
    (cell, grid-disk-1) overlap at res, and the measured bound must stay
    below the analytic average width (sanity: margin direction)."""
    from egp_crn_spark.functions import cells_h3 as H

    old = (H.PATCH_LAT0, H.PATCH_LNG0)
    try:
        H.set_patch(*patch)
        w = H.cell_size(res)
        assert 0.0 < w < float(EXTENT)
        # measured bound must not exceed the average-width analytic value
        avg_w = H._edge_length_m(res) * np.sqrt(3.0) / H.M_PER_UNIT
        assert w <= avg_w * 1.05
        rng = np.random.default_rng(100 * res + int(patch[0]))
        ax = rng.uniform(0, EXTENT, 400)
        ay = rng.uniform(0, EXTENT, 400)
        theta = rng.uniform(0, 2 * np.pi, 400)
        r = rng.uniform(0, w, 400)
        bx = np.clip(ax + r * np.cos(theta), 0, EXTENT - 1e-9)
        by = np.clip(ay + r * np.sin(theta), 0, EXTENT - 1e-9)
        alat, alng = H._to_latlng(ax, ay)
        blat, blng = H._to_latlng(bx, by)
        missed = 0
        for i in range(len(ax)):
            ca = H._latlng_to_cell(float(alat[i]), float(alng[i]), res)
            cb = H._latlng_to_cell(float(blat[i]), float(blng[i]), res)
            if cb not in H._grid_disk(ca, 1):
                missed += 1
        assert missed == 0
    finally:
        H.set_patch(*old)


def test_three_renderers_agree(pts, C):
    """Column, numpy, and SQL emitters are ONE algorithm: identical ids
    for identical inputs at several resolutions."""
    pdf = pts.toPandas()
    con = duckdb.connect()
    for res in (0, 1, 4, 10, 16):
        got_col = pts.select(
            C.cell_of_xy(F.col("x"), F.col("y"), res).alias("c")).toPandas()["c"].to_numpy()
        got_np = C.cell_of_xy_np(pdf["x"].to_numpy(), pdf["y"].to_numpy(), res)
        got_sql = con.execute(
            f"select {C.cell_of_xy_sql('x', 'y', res)} as c from pdf"
        ).df()["c"].to_numpy()
        np.testing.assert_array_equal(got_col, got_np)
        np.testing.assert_array_equal(got_col, got_sql.astype(np.int64))


def test_idx_of_matches_cell_of_xy(pts, C):
    """idx_of is the axis projection of cell_of_xy — cover-cell explosion
    built from it lands geometry in the same cells points land in."""
    for res in (0, 1, 9, 16):
        ix = C.idx_of(F.col("x"), res)
        iy = C.idx_of(F.col("y"), res)
        bad = pts.filter(
            C.cell_encode(ix, iy, res) != C.cell_of_xy(F.col("x"), F.col("y"), res)
        ).count()
        assert bad == 0, res


def test_compact_uncompact_roundtrip(spark):
    """compact → uncompact reproduces exactly the original fine cell set
    (H3 compact_cells/uncompact_cells semantics). Morton-backend only:
    cellsets' parent expression is bit arithmetic on Z-order ids."""
    C = morton_cells
    from egp_crn_spark.operators.cellsets import compact_cells, uncompact_cells

    rng = np.random.default_rng(3)
    res = 6
    # a full quadrant (compactable) + scattered cells (not compactable)
    n = 1 << res
    quad = [(ix, iy) for ix in range(n // 4) for iy in range(n // 4)]
    scatter = {(int(rng.integers(n // 2, n)), int(rng.integers(n // 2, n)))
               for _ in range(40)}
    pdf = pd.DataFrame(sorted(set(quad) | scatter), columns=["ix", "iy"])
    cells = spark.createDataFrame(pdf).select(
        C.cell_encode(F.col("ix"), F.col("iy"), res).alias("cell"))
    compacted = compact_cells(cells)
    assert compacted.count() < cells.count()  # the quadrant collapsed
    back = uncompact_cells(compacted, res)
    orig = {r["cell"] for r in cells.collect()}
    rt = {r["cell"] for r in back.collect()}
    assert rt == orig
