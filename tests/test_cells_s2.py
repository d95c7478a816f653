"""Native S2 backend conformance (functions/cells_s2.py, VERDICT r6 #2).

Anchors to implementation-independent facts of the published S2 cell-id
scheme: structural constants (face cells, id layout), inverse
round-trips, Hilbert-curve continuity (consecutive leaf ids are lattice
neighbours — ANY lookup-table error breaks this), parent/child/range
axioms, and the k-ring(1) coverage bound of ``res_for_radius``. The
decoder and the neighbour enumeration are test-side
(tests/s2_neighbours.py); the backend-agnostic operator axioms run via
the CB fixture in test_cells_conformance.py.
"""

from __future__ import annotations

import numpy as np
import pytest

from egp_crn_spark.functions import cells_s2 as S
from tests import s2_neighbours as N


def _rand_sphere(n, seed):
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    return lat, lng


def test_face_cells_structure():
    """Level-0 cell of face f is (f << 61) | (1 << 60) — the published
    id layout — and the six cube-face center directions land on faces
    0..5 in order (+x +y +z -x -y -z)."""
    centers = [(0, 0), (0, 90), (90, 0), (0, 180), (0, -90), (-90, 0)]
    for f, (lat, lng) in enumerate(centers):
        got = S.cell_id_np(np.array([lat]), np.array([lng]), 0) \
            .view(np.uint64)[0]
        assert got == (np.uint64(f) << np.uint64(61)) | (np.uint64(1) << np.uint64(60)), (f, hex(int(got)))


def test_leaf_ids_are_odd_and_face_bits_sane():
    lat, lng = _rand_sphere(2000, 1)
    leaf = S.cell_id_np(lat, lng, S.MAX_LEVEL).view(np.uint64)
    assert (leaf & np.uint64(1)).all()  # leaf marker
    faces = (leaf >> np.uint64(61)).astype(np.int64)
    assert faces.min() >= 0 and faces.max() <= 5
    assert len(set(faces.tolist())) == 6  # uniform sphere hits all faces


def test_encode_decode_roundtrip_whole_sphere():
    """_from_face_ij and _to_face_ij are exact inverses for random leaf
    cells across all faces."""
    lat, lng = _rand_sphere(5000, 2)
    leaf = S.cell_id_np(lat, lng, S.MAX_LEVEL).view(np.uint64)
    face, i, j = N.to_face_ij(leaf)
    back = S._from_face_ij(face, i, j)
    assert (back == leaf).all()
    assert (i >= 0).all() and (i < S._MAX_SIZE).all()
    assert (j >= 0).all() and (j < S._MAX_SIZE).all()


def test_hilbert_curve_continuity():
    """Consecutive leaf ids within a face are 4-adjacent in (i, j):
    |di| + |dj| == 1. This is THE discriminating property of a correct
    Hilbert table — a single wrong entry breaks adjacency somewhere."""
    lat, lng = _rand_sphere(2000, 3)
    leaf = S.cell_id_np(lat, lng, S.MAX_LEVEL).view(np.uint64)
    nxt = leaf + np.uint64(2)  # next leaf position along the curve
    f0, i0, j0 = N.to_face_ij(leaf)
    f1, i1, j1 = N.to_face_ij(nxt)
    same = f0 == f1  # curve jumps faces at face-position boundaries
    assert same.sum() > 1900
    manhattan = np.abs(i1 - i0) + np.abs(j1 - j0)
    assert (manhattan[same] == 1).all()


@pytest.mark.parametrize("fine,coarse", [(30, 12), (12, 5), (5, 0)])
def test_parent_containment_and_ranges(fine, coarse):
    lat, lng = _rand_sphere(3000, 4)
    cf = S.cell_id_np(lat, lng, fine).view(np.uint64)
    cc = S.cell_id_np(lat, lng, coarse).view(np.uint64)
    assert (S._parent_at(cf, coarse) == cc).all()
    # range containment: descendant ids fall inside [min, max] of the
    # ancestor (the published range-query property)
    lsb = S._lsb_for_level(coarse)
    assert (cf >= cc - (lsb - np.uint64(1))).all()
    assert (cf <= cc + (lsb - np.uint64(1))).all()
    assert (N.level_of(cf) == fine).all()
    assert (N.level_of(cc) == coarse).all()


def test_children_partition_parent():
    lat, lng = _rand_sphere(200, 5)
    for level in (3, 11, 20):
        c = S.cell_id_np(lat, lng, level).view(np.uint64)
        lsb = S._lsb_for_level(level)
        child_lsb = lsb >> np.uint64(2)
        kids = [c - lsb + np.uint64(2 * k + 1) * child_lsb for k in range(4)]
        for kid in kids:
            assert (S._parent_at(kid, level) == c).all()
            assert (N.level_of(kid) == level + 1).all()
        # 4 distinct children whose ranges tile the parent's range
        lo = kids[0] - (child_lsb - np.uint64(1))
        hi = kids[3] + (child_lsb - np.uint64(1))
        assert (lo == c - (lsb - np.uint64(1))).all()
        assert (hi == c + (lsb - np.uint64(1))).all()


@pytest.mark.parametrize("level", [4, 10, 18])
def test_neighbor_symmetry_including_face_wraps(level):
    """For every cell (random over the WHOLE sphere, so face-edge wraps
    are exercised), each of its 8-neighbourhood cells lists the cell
    back in ITS 8-neighbourhood — wrap errors break symmetry."""
    lat, lng = _rand_sphere(300, 6 + level)
    c = S.cell_id_np(lat, lng, level).view(np.uint64)
    c = np.unique(c)
    nbrs = N.all_neighbors(c, level)
    assert (N.level_of(nbrs.ravel()) == level).all()
    back = N.all_neighbors(nbrs.ravel(), level) \
        .reshape(len(c), 8, 8)
    for idx in range(len(c)):
        for k in range(8):
            if nbrs[idx, k] == c[idx]:
                continue  # corner-wrap duplicate collapsed onto self
            assert c[idx] in back[idx, k], (level, idx, k)


def test_interior_cell_has_8_distinct_neighbors():
    # face-0 center is far from every cube edge at level 10
    c = S.cell_id_np(np.array([0.0]), np.array([0.0]), 10).view(np.uint64)
    nbrs = N.all_neighbors(c, 10)
    assert len(set(nbrs[0].tolist())) == 8
    assert c[0] not in nbrs[0]


@pytest.mark.parametrize("patch", [(0.0, 0.0), (45.5, -73.6), (0.0, 45.0)],
                         ids=["equator", "midlat", "face-edge"])
@pytest.mark.parametrize("res", [7, 8, 9, 10, 12, 14])
def test_coverage_invariant_numpy(patch, res):
    """The operator-level k-ring(1) coverage proof, evidenced directly in
    numpy on three patches — including one CENTERED ON A CUBE-FACE EDGE
    (lng=45), where every ring near the seam needs the cross-face wrap.
    Published min-width metric bounds radius; no measurement needed."""
    old = (S.PATCH_LAT0, S.PATCH_LNG0)
    try:
        S.set_patch(*patch)
        radius = S.cell_size(res)
        rng = np.random.default_rng(abs(int(res * 7 + patch[1] * 10)))
        from egp_crn_spark.config import EXTENT
        ax = rng.uniform(0, EXTENT, 600)
        ay = rng.uniform(0, EXTENT, 600)
        theta = rng.uniform(0, 2 * np.pi, 600)
        r = rng.uniform(0, radius, 600)
        bx, by = ax + r * np.cos(theta), ay + r * np.sin(theta)
        alat, alng = S._to_latlng(ax, ay)
        blat, blng = S._to_latlng(bx, by)
        ca = S.cell_id_np(alat, alng, res).view(np.uint64)
        cb = S.cell_id_np(blat, blng, res).view(np.uint64)
        ring = N.all_neighbors(ca, res)
        hit = (ca == cb) | (ring == cb[:, None]).any(axis=1)
        assert hit.all(), f"missed {int((~hit).sum())} of 600"
    finally:
        S.set_patch(*old)


def test_res_for_radius_monotone():
    for radius in (0.05, 0.5, 5.0, 500.0):
        res = S.res_for_radius(radius)
        assert S.cell_size(res) >= radius
        if res < S.MAX_RES:
            assert S.cell_size(res + 1) < radius
