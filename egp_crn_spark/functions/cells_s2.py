"""Dependency-free S2 spherical cell backend (VERDICT r6 #2).

BASELINE.json's north rule names H3/S2 geodesic cells; the h3 library is
absent in this sandbox, so the real-H3 twin (cells_h3.py) stays import-
gated. This module closes the gap for real: S2 cell ids implemented
natively from the PUBLISHED algorithm (s2geometry's documented cell-id
scheme — cube-face projection, quadratic ST transform, Hilbert-curve
position, trailing-bit level marker) as vectorized numpy kernels. No
external library, importable everywhere.

Layout of a cell id (uint64, stored as int64 bigint — faces 4-5 set the
sign bit, which is fine for the equi-joins and range containment the
operators use; no cross-face global ordering is relied on):

    [3 bits face][61 bits: Hilbert position || 1 || 0...0]

A level-``l`` cell has its marker bit at position ``2*(30-l)``; leaf
cells (level 30) end in 1. Parent/child/range arithmetic is pure bit
math on the id, exactly as published.

Backend surface = the cells.py seam contract (cell_of_xy / parent_cell /
res_for_radius / cell_size / MAX_RES), with the same
planar-patch mapping as cells_h3: [0, EXTENT)^2 is a ~0.5-degree
equirectangular patch centered at EGP_S2_PATCH (default equator). Encode
is one fully-vectorized numpy pass per Arrow batch — no per-row Python,
unlike a library-backed backend.

The coverage bound (res_for_radius) uses S2's published minimum-width
metric for the quadratic projection: min cell width at level l is
``(2*sqrt(2)/3) * 2^-l`` radians — a true global lower bound over the
whole sphere, so a k-ring(1) coverage proof needs no per-patch width
measurement at all (tighter than cells_h3's sampled bound).

Correctness evidence (tests/test_cells_s2.py): Hilbert-curve continuity
(consecutive leaf ids are 4-neighbours in (face,i,j) — any lookup-table
error breaks this), encode/decode inverse round-trips over the whole
sphere, parent/child/range-containment axioms, and the cells.py
conformance battery via the CB fixture (tests/test_cells_conformance.py).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..config import EXTENT

MAX_LEVEL = 30
MAX_RES = 30
_MAX_SIZE = 1 << MAX_LEVEL            # leaf cells per face axis
_POS_BITS = 2 * MAX_LEVEL + 1         # 61

# published Hilbert-curve orientation constants
_SWAP, _INVERT = 1, 2
_POS_TO_IJ = ((0, 1, 3, 2), (0, 2, 3, 1), (3, 2, 0, 1), (3, 1, 0, 2))
_POS_TO_ORIENT = (_SWAP, 0, 0, _INVERT | _SWAP)

# 4-bit-block lookup tables: index (ij << 2) | orientation -> (pos << 2)
# | end_orientation, and the inverse. Built once at import by the
# published recursive construction.
_LOOKUP_POS = np.zeros(1 << 12, dtype=np.uint64)
_LOOKUP_IJ = np.zeros(1 << 12, dtype=np.uint64)


def _init_lookup(level: int, i: int, j: int, orig_orient: int,
                 pos: int, orient: int) -> None:
    if level == 4:
        ij = (i << 4) | j
        _LOOKUP_POS[(ij << 2) | orig_orient] = (pos << 2) | orient
        _LOOKUP_IJ[(pos << 2) | orig_orient] = (ij << 2) | orient
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orient]
    for sub in range(4):
        _init_lookup(level, i + (r[sub] >> 1), j + (r[sub] & 1),
                     orig_orient, pos + sub, orient ^ _POS_TO_ORIENT[sub])


for _o in (0, _SWAP, _INVERT, _SWAP | _INVERT):
    _init_lookup(0, 0, 0, _o, 0, _o)


def _u64(x: int) -> np.uint64:
    return np.uint64(x)


# ------------------------------------------------------------ projections
def _uv_to_st(u: np.ndarray) -> np.ndarray:
    # symmetric form (st(-u) = 1 - st(u)) keeps the sqrt argument
    # non-negative for both np.where branches
    a = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0.0, a, 1.0 - a)


def _xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(az >= np.maximum(ax, ay), 2,
                    np.where(ay >= ax, 1, 0))
    comp = np.choose(axis, (x, y, z))
    face = np.where(comp < 0, axis + 3, axis).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    formulas = (
        (y, x, z, x), (-x, y, z, y), (-x, z, -y, z),
        (z, x, y, x), (z, y, -x, y), (-y, z, -x, z),
    )
    for f, (un, ud, vn, vd) in enumerate(formulas):
        m = face == f
        u[m] = un[m] / ud[m]
        v[m] = vn[m] / vd[m]
    return face, u, v


def _latlng_to_xyz(lat_deg: np.ndarray, lng_deg: np.ndarray):
    lat = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lng = np.radians(np.asarray(lng_deg, dtype=np.float64))
    cl = np.cos(lat)
    return cl * np.cos(lng), cl * np.sin(lng), np.sin(lat)


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(_MAX_SIZE * s), 0, _MAX_SIZE - 1).astype(np.int64)


# ------------------------------------------------------- id <-> (face,i,j)
def _from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Leaf cell id (uint64) from face + leaf ij — the published 8-step
    4-bit Hilbert lookup, vectorized."""
    fi = face.astype(np.uint64)
    iu = i.astype(np.uint64)
    ju = j.astype(np.uint64)
    n = fi << _u64(_POS_BITS - 1)
    bits = fi & _u64(_SWAP)
    for k in range(7, -1, -1):
        sh = _u64(4 * k)
        bits += ((iu >> sh) & _u64(15)) << _u64(6)
        bits += ((ju >> sh) & _u64(15)) << _u64(2)
        bits = _LOOKUP_POS[bits]
        n |= (bits >> _u64(2)) << _u64(8 * k)
        bits &= _u64(_SWAP | _INVERT)
    return (n << _u64(1)) | _u64(1)


def _lsb_for_level(level: int) -> np.uint64:
    return _u64(1 << (2 * (MAX_LEVEL - level)))


def _parent_at(ids: np.ndarray, level: int) -> np.ndarray:
    """Ancestor at ``level`` — pure bit math on uint64 ids."""
    new_lsb = _lsb_for_level(level)
    return (ids.astype(np.uint64) & ~(new_lsb - _u64(1))) | new_lsb


# ---------------------------------------------------------- patch mapping
_SPAN_DEG = 0.5
_env_patch = os.environ.get("EGP_S2_PATCH", "0,0").split(",")
PATCH_LAT0, PATCH_LNG0 = float(_env_patch[0]), float(_env_patch[1])
_RAD_PER_UNIT = _SPAN_DEG * math.pi / 180.0 / EXTENT


def set_patch(lat0: float, lng0: float) -> None:
    """Re-center the mapped patch. Driver-side effect only — worker
    processes read EGP_S2_PATCH at import (same rule as cells_h3)."""
    global PATCH_LAT0, PATCH_LNG0
    PATCH_LAT0, PATCH_LNG0 = float(lat0), float(lng0)


def _to_latlng(x: np.ndarray, y: np.ndarray):
    lat = (np.asarray(y, np.float64) / EXTENT - 0.5) * _SPAN_DEG + PATCH_LAT0
    lng = (np.asarray(x, np.float64) / EXTENT - 0.5) * _SPAN_DEG + PATCH_LNG0
    return lat, lng


def cell_id_np(lat: np.ndarray, lng: np.ndarray, level: int) -> np.ndarray:
    """Vectorized lat/lng (degrees) -> S2 cell id at ``level`` (int64)."""
    x, y, z = _latlng_to_xyz(lat, lng)
    face, u, v = _xyz_to_face_uv(x, y, z)
    leaf = _from_face_ij(face, _st_to_ij(_uv_to_st(u)), _st_to_ij(_uv_to_st(v)))
    return _parent_at(leaf, level).view(np.int64)


def cell_of_xy_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    lat, lng = _to_latlng(x, y)
    return cell_id_np(lat, lng, res)


# published minimum-width metric (quadratic projection): a true lower
# bound on cell width anywhere on the sphere, in radians
_MIN_WIDTH_DERIV = 2.0 * math.sqrt(2.0) / 3.0


def cell_size(res: int) -> float:
    """Minimum S2 cell width at ``res`` in planar units — the published
    global lower bound, no per-patch measurement needed."""
    return _MIN_WIDTH_DERIV * (2.0 ** -res) / _RAD_PER_UNIT


def res_for_radius(radius: float) -> int:
    """Finest level whose minimum cell width >= radius, making k-ring(1)
    coverage exact (same proof shape as the other backends)."""
    for res in range(MAX_RES, -1, -1):
        if cell_size(res) >= radius:
            return res
    return 0


# ----------------------------------------------------------- Column API
def cell_of_xy(x: Column, y: Column, res: int) -> Column:
    @F.pandas_udf(LongType())
    def enc(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(cell_of_xy_np(xs.to_numpy(), ys.to_numpy(), res))

    return enc(x, y)


def parent_cell(cell: Column, res: int, parent_res: int) -> Column:
    if parent_res > res:
        raise ValueError("parent_res must be <= res")

    @F.pandas_udf(LongType())
    def par(cs: pd.Series) -> pd.Series:
        ids = cs.to_numpy().astype(np.int64).view(np.uint64)
        return pd.Series(_parent_at(ids, parent_res).view(np.int64))

    return par(cell)
