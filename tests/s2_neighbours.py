"""S2 cell-id decode and 8-neighbourhood, numpy: the test-side inverse
of functions/cells_s2.py's encoder.

The engine only encodes (cell_of_xy, parent_cell). These helpers decode
ids back to (face, i, j) and enumerate a cell's neighbours with the
published cross-face wrap, so tests/test_cells_s2.py can check the
encoder's round trip, Hilbert continuity and the k-ring(1) coverage
bound behind ``res_for_radius``.
"""

from __future__ import annotations

import numpy as np

from egp_crn_spark.functions import cells_s2 as S


def to_face_ij(ids: np.ndarray):
    """(face, i, j) of the leaf position encoded in ``ids`` (uint64;
    for non-leaf ids this is the published leaf-bit decode used by
    all_neighbors)."""
    ids = ids.astype(np.uint64)
    face = (ids >> S._u64(S._POS_BITS)).astype(np.int64)
    bits = (face.astype(np.uint64)) & S._u64(S._SWAP)
    i = np.zeros(len(ids), dtype=np.uint64)
    j = np.zeros(len(ids), dtype=np.uint64)
    for k in range(7, -1, -1):
        nbits = 2 if k == 7 else 4
        bits += ((ids >> S._u64(k * 8 + 1))
                 & S._u64((1 << (2 * nbits)) - 1)) << S._u64(2)
        bits = S._LOOKUP_IJ[bits]
        i += (bits >> S._u64(6)) << S._u64(4 * k)
        j += ((bits >> S._u64(2)) & S._u64(15)) << S._u64(4 * k)
        bits &= S._u64(S._SWAP | S._INVERT)
    return face, i.astype(np.int64), j.astype(np.int64)


def level_of(ids: np.ndarray) -> np.ndarray:
    u = ids.astype(np.uint64)
    lsb = u & (~u + S._u64(1))
    tz = np.round(np.log2(lsb.astype(np.float64))).astype(np.int64)
    return S.MAX_LEVEL - tz // 2


def face_uv_to_xyz(face: np.ndarray, u: np.ndarray, v: np.ndarray):
    """Published cube-face charts: face 0..5 = +x +y +z -x -y -z."""
    one = np.ones_like(u)
    charts = (
        (one, u, v), (-u, one, v), (-u, -v, one),
        (-one, -v, -u), (v, -one, -u), (v, u, -one),
    )
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    for f, (cx, cy, cz) in enumerate(charts):
        m = face == f
        x[m], y[m], z[m] = cx[m], cy[m], cz[m]
    return x, y, z


def from_face_ij_wrap(face: np.ndarray, i: np.ndarray,
                      j: np.ndarray) -> np.ndarray:
    """Leaf id for possibly out-of-range leaf ij — the published wrap:
    clamp to one leaf beyond the face, map through the LINEAR uv
    projection to xyz (the extended chart), re-project onto the correct
    face, and encode there. Exact at leaf level (the half-leaf centering
    keeps every in-range transverse coordinate in its cell)."""
    i = np.clip(i, -1, S._MAX_SIZE)
    j = np.clip(j, -1, S._MAX_SIZE)
    scale = 1.0 / S._MAX_SIZE
    limit = 1.0 + np.finfo(np.float64).eps
    u = np.clip(scale * (2.0 * (i - S._MAX_SIZE // 2) + 1.0), -limit, limit)
    v = np.clip(scale * (2.0 * (j - S._MAX_SIZE // 2) + 1.0), -limit, limit)
    x, y, z = face_uv_to_xyz(face.astype(np.int64), u, v)
    nf, nu, nv = S._xyz_to_face_uv(x, y, z)
    return S._from_face_ij(nf,
                           S._st_to_ij(0.5 * (nu + 1.0)),
                           S._st_to_ij(0.5 * (nv + 1.0)))


def from_face_ij_same(face, i, j, same: np.ndarray) -> np.ndarray:
    out = np.empty(len(face), dtype=np.uint64)
    if same.any():
        out[same] = S._from_face_ij(face[same], i[same], j[same])
    rest = ~same
    if rest.any():
        out[rest] = from_face_ij_wrap(face[rest], i[rest], j[rest])
    return out


def all_neighbors(ids: np.ndarray, level: int) -> np.ndarray:
    """(n, 8) uint64 array of the 8-neighbourhood of each level-``level``
    cell (published AppendAllNeighbors with nbr_level = level). At cube
    corners a diagonal neighbour does not exist and the wrap returns a
    duplicate of an edge neighbour — callers dedupe per row."""
    face, i, j = to_face_ij(ids)
    size = 1 << (S.MAX_LEVEL - level)
    i0 = i & -size
    j0 = j & -size
    cols = []
    for di in (-size, 0, size):
        for dj in (-size, 0, size):
            if di == 0 and dj == 0:
                continue
            ni, nj = i0 + di, j0 + dj
            same = ((ni >= 0) & (ni < S._MAX_SIZE)
                    & (nj >= 0) & (nj < S._MAX_SIZE))
            cols.append(S._parent_at(
                from_face_ij_same(face, ni, nj, same), level))
    return np.stack(cols, axis=1)
