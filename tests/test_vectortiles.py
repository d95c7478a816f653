"""Vector tile clipping: kernel geometry + the length-conservation
invariant (a tile grid partitions the plane — pieces sum to the arc)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.functions.cells import cell_size
from egp_crn_spark.operators.vectortiles import vector_tiles
from tests.twins import cell_to_ixy_np, cells_covering_bbox, clip_polyline_to_box


def _len(line):
    return float(np.sqrt((np.diff(line, axis=0) ** 2).sum(axis=1)).sum())


def test_clip_kernel_basics():
    line = np.array([[-5.0, 5.0], [5.0, 5.0], [5.0, 15.0]])
    pieces = clip_polyline_to_box(line, 0.0, 0.0, 10.0, 10.0)
    assert len(pieces) == 1
    p = pieces[0]
    assert (p[0] == [0.0, 5.0]).all() and (p[-1] == [5.0, 10.0]).all()
    # fully outside → nothing; fully inside → identical
    assert clip_polyline_to_box(line, 20.0, 20.0, 30.0, 30.0) == []
    inside = clip_polyline_to_box(line, -10.0, 0.0, 10.0, 20.0)
    assert len(inside) == 1 and (inside[0] == line).all()
    # re-entrant path → two pieces
    zig = np.array([[1.0, 1.0], [15.0, 1.0], [15.0, 2.0], [1.0, 2.0]])
    two = clip_polyline_to_box(zig, 0.0, 0.0, 10.0, 10.0)
    assert len(two) == 2


def test_clip_conserves_length_over_grid():
    rng = np.random.default_rng(7)
    for trial in range(20):
        n = rng.integers(2, 60)
        line = rng.uniform(0.0, 100.0, (n, 2))
        total = 0.0
        for gx in range(4):
            for gy in range(4):
                for p in clip_polyline_to_box(line, gx * 25.0, gy * 25.0,
                                              (gx + 1) * 25.0,
                                              (gy + 1) * 25.0):
                    total += _len(p)
        assert total == pytest.approx(_len(line), rel=1e-9)


def test_vector_tiles_operator(spark):
    rng = np.random.default_rng(3)
    rows = [(i, [[float(x), float(y)] for x, y in
                 rng.uniform(0.0, 65536.0, (rng.integers(2, 30), 2))])
            for i in range(30)]
    arcs = spark.createDataFrame(
        rows, "arc_id long, vertices array<array<double>>")
    res = 3
    out = vector_tiles(arcs, res).toPandas()
    cs = cell_size(res)
    # every piece lies inside its tile's closed box
    for _, r in out.iterrows():
        piece = np.asarray([[p[0], p[1]] for p in r["vertices"]])
        ix, iy = cell_to_ixy_np(np.array([r["tile"]]))
        x0, y0 = float(ix[0]) * cs, float(iy[0]) * cs
        eps = 1e-9
        assert (piece[:, 0] >= x0 - eps).all() \
            and (piece[:, 0] <= x0 + cs + eps).all()
        assert (piece[:, 1] >= y0 - eps).all() \
            and (piece[:, 1] <= y0 + cs + eps).all()
    # length conservation per arc
    got = {}
    for _, r in out.iterrows():
        piece = np.asarray([[p[0], p[1]] for p in r["vertices"]])
        got[r["arc_id"]] = got.get(r["arc_id"], 0.0) + _len(piece)
    for aid, v in rows:
        want = _len(np.asarray(v))
        assert got[aid] == pytest.approx(want, rel=1e-9), aid


def test_vector_tiles_max_cover_guard(spark):
    arcs = spark.createDataFrame(
        [(1, [[0.0, 0.0], [65535.0, 65535.0]])],
        "arc_id long, vertices array<array<double>>")
    with pytest.raises(Exception, match="max_cover"):
        vector_tiles(arcs, res=8, max_cover=100).count()



@pytest.mark.parametrize("bad_vertex", [[30000.0], None],
                         ids=["length1", "null"])
def test_short_vertex_raises_like_scalar_stitcher(spark, bad_vertex):
    """A vertex of a non-null arc with fewer than two coordinates raises
    in the vectorized kernel, as it does in the scalar stitcher, instead
    of silently reading the next vertex's x as its y."""
    line = [[100.0, 100.0], bad_vertex, [40000.0, 50000.0]]
    with pytest.raises(Exception):
        _reference_pieces(np.asarray(line, dtype=np.float64), 4)
    arcs = spark.createDataFrame(
        [(1, [[0.0, 0.0], [10.0, 10.0]]), (7, line), (8, None)],
        "arc_id long, vertices array<array<double>>")
    with pytest.raises(Exception, match="arc 7 has a vertex with fewer"):
        vector_tiles(arcs, 4).collect()

def _reference_pieces(line, res):
    """The r8 scalar kernel (per-segment assign + clip + stitch), kept
    here as the parity oracle for the r9 vectorized kernel: cell id ->
    list of pieces in path order."""
    cs = cell_size(res)
    done, open_p = {}, {}
    for a, b in zip(line[:-1], line[1:]):
        cover = cells_covering_bbox(
            min(a[0], b[0]), min(a[1], b[1]),
            max(a[0], b[0]), max(a[1], b[1]), res)
        ix, iy = cell_to_ixy_np(cover)
        interior = len(cover) == 1
        for cell, cx, cy in zip(cover, ix, iy):
            cell = int(cell)
            if interior:
                seg = np.array([a, b])
                if (seg[0] == seg[1]).all():
                    continue
            else:
                x0, y0 = cx * cs, cy * cs
                clipped = clip_polyline_to_box(
                    np.array([a, b]), x0, y0, x0 + cs, y0 + cs)
                if not clipped:
                    continue
                seg = clipped[0]
            cur = open_p.get(cell)
            if cur is not None and (cur[-1] == seg[0]).all():
                cur.append(seg[1])
            else:
                if cur is not None and len(cur) >= 2:
                    done.setdefault(cell, []).append(np.asarray(cur))
                open_p[cell] = [seg[0], seg[1]]
    for cell, cur in open_p.items():
        if len(cur) >= 2:
            done.setdefault(cell, []).append(np.asarray(cur))
    return done


def test_vectorized_kernel_matches_scalar_reference(spark):
    """r9 vectorized kernel == the r8 scalar stitcher, bit-exact:
    same (arc, tile, part) keys, same piece vertices — on random arcs,
    boundary-touching arcs, and out-of-domain arcs (clamped cover)."""
    rng = np.random.default_rng(17)
    rows = []
    for i in range(40):
        n = int(rng.integers(2, 40))
        line = rng.uniform(-1000.0, 67000.0, (n, 2))  # spills off-domain
        rows.append((i, [[float(x), float(y)] for x, y in line]))
    # axis-aligned arc exactly on cell boundaries (exactness edge)
    cs = cell_size(4)
    rows.append((100, [[cs, cs / 2], [cs, 3 * cs], [2 * cs, 3 * cs]]))
    # degenerate: repeated points, single vertex, null
    rows.append((101, [[5.0, 5.0], [5.0, 5.0], [6.0, 6.0]]))
    rows.append((102, [[7.0, 7.0]]))
    rows.append((103, None))
    arcs = spark.createDataFrame(
        rows, "arc_id long, vertices array<array<double>>")
    for res in (2, 4):
        got = vector_tiles(arcs, res).toPandas()
        got_map = {}
        for _, r in got.iterrows():
            got_map[(r["arc_id"], r["tile"], r["part"])] = np.asarray(
                [[p[0], p[1]] for p in r["vertices"]])
        want_map = {}
        for aid, v in rows:
            if v is None or len(v) < 2:
                continue
            line = np.asarray(v, dtype=np.float64)
            for cell, pieces in _reference_pieces(line, res).items():
                for k, piece in enumerate(pieces):
                    want_map[(aid, cell, k)] = piece
        assert set(got_map) == set(want_map), res
        for key, want in want_map.items():
            assert got_map[key].shape == want.shape, key
            assert (got_map[key] == want).all(), key
