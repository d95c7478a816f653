"""Real-H3 cell backend — importable only where the ``h3`` library exists.

This is the production twin promised by the cells.py backend seam: the
engine's operators reach cell geometry only through the point API
(cell_of_xy / parent_cell / res_for_radius / cell_size),
and tests/test_cells_conformance.py parametrizes the backend-agnostic
axioms over this module whenever ``import h3`` succeeds (it is skipped,
not failed, in environments without the lib — the sandbox has none).

Mapping: the engine's planar domain [0, EXTENT)^2 lands on a ~0.5-degree
equirectangular patch at the equator. Across a patch that small the
meters-per-unit factor is constant to <0.004%, so planar radii convert
to meters with one multiplication and the k-ring coverage proofs carry
over: ``res_for_radius`` picks the finest res whose minimum hexagon
width (incircle diameter = edge * sqrt(3)) is >= the radius, and exiting
a cell's 1-ring crosses at least one full neighbour hexagon in its
thinnest direction — so two points within ``radius`` always share a
(cell, 1-ring) overlap, the invariant every spatial join here relies on.

Ids are H3 *int* indexes (always positive in int64 — the reserved high
bit is 0), so joins stay plain bigint equi-joins exactly as with the
Morton backend. Encoding runs in Arrow-batched pandas UDFs; at 100 TB
the per-row Python call is the known cost of a library backend (the
Morton default exists precisely because pure-Column bit arithmetic is
cheaper), which is why this module is the swap-in, not the default.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

import h3 as _h3  # the import gate: ImportError here = backend unavailable

from ..config import EXTENT

try:  # int-index API (v4: h3.api.basic_int; ids are ints, not hex strings)
    import h3.api.basic_int as _h3i
except ImportError:  # pragma: no cover - very old h3-py
    _h3i = _h3

# v4 / v3 naming shims — one callable per operation, resolved at import
_latlng_to_cell = getattr(_h3i, "latlng_to_cell", None) or _h3i.geo_to_h3
_cell_to_parent = getattr(_h3i, "cell_to_parent", None) or _h3i.h3_to_parent
_grid_disk = getattr(_h3i, "grid_disk", None) or _h3i.k_ring
_edge_length_m = (
    (lambda res: _h3.average_hexagon_edge_length(res, unit="m"))
    if hasattr(_h3, "average_hexagon_edge_length")
    else (lambda res: _h3.edge_length(res, unit="m"))
)
_cell_to_latlng = (
    getattr(_h3i, "cell_to_latlng", None) or getattr(_h3i, "h3_to_geo", None)
)
_cell_to_boundary = (
    getattr(_h3i, "cell_to_boundary", None)
    or getattr(_h3i, "h3_to_geo_boundary", None)
)

MAX_RES = 15
_SPAN_DEG = 0.5
_M_PER_DEG = 111_320.0
M_PER_UNIT = _SPAN_DEG * _M_PER_DEG / EXTENT

# Where on the globe the planar [0, EXTENT)^2 domain lands (patch
# center). Set EGP_H3_PATCH="lat,lng" BEFORE the session starts so
# executor python workers import the same value; set_patch() below is
# the driver-side seam the conformance tests use (driver-side geometry
# only — running encode UDFs pick the value up at worker import).
_env_patch = os.environ.get("EGP_H3_PATCH", "0,0").split(",")
PATCH_LAT0, PATCH_LNG0 = float(_env_patch[0]), float(_env_patch[1])


def set_patch(lat0: float, lng0: float) -> None:
    """Re-center the mapped patch and invalidate measured-width caches.
    Driver-side effect only — see the module-global note above."""
    global PATCH_LAT0, PATCH_LNG0
    PATCH_LAT0, PATCH_LNG0 = float(lat0), float(lng0)
    _min_width_cache.clear()


def _to_latlng(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lat = (np.asarray(y, dtype=np.float64) / EXTENT - 0.5) * _SPAN_DEG + PATCH_LAT0
    lng = (np.asarray(x, dtype=np.float64) / EXTENT - 0.5) * _SPAN_DEG + PATCH_LNG0
    return lat, lng


# Real H3 cell widths vary by location (icosahedron distortion shrinks
# cells near pentagon-adjacent faces), so the GLOBAL-AVERAGE edge length
# is not a safe lower bound for the k-ring(1) coverage proof: cells on
# the mapped patch that are narrower than average could let two points
# within ``radius`` miss the (cell, 1-ring) overlap and silently drop
# join pairs. Fix: measure the true minimum incircle width over cells
# sampled across the mapped 0.5-degree patch (once per res, cached) and
# bound the proofs with THAT. The average-based analytic value scaled by
# a conservative 0.7 (global min/avg edge ratio comfortably above that)
# is the fallback when the boundary API is unavailable.
_SAFETY = 0.7
_min_width_cache: dict[int, float] = {}


def _seg_dist(px, py, ax, ay, bx, by) -> float:
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0.0:
        return math.hypot(px - ax, py - ay)
    t = max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
    return math.hypot(px - (ax + t * dx), py - (ay + t * dy))


# Width varies smoothly across the patch, but the sampled minimum alone
# is not a proven bound: an unsampled cell marginally narrower than the
# sampled min would re-open the silent pair-drop (ADVICE r5). Two
# mitigations, both applied: widen the sample to the grid-disk(1)
# neighbours of every sampled cell (the minimum over a cell set is
# attained on a sampled-or-adjacent cell for smoothly-varying widths),
# then shave the result by a margin far larger than the residual
# cell-to-neighbour width variation.
_MEASURE_MARGIN = 0.99


def _measured_min_width(res: int) -> float | None:
    """Minimum incircle diameter (2 x min center-to-edge distance), in
    planar units, over cells sampled on a 17x17 grid spanning the mapped
    patch PLUS each sample's grid-disk(1) neighbours, scaled by
    ``_MEASURE_MARGIN``. None when the boundary/center APIs are missing."""
    if _cell_to_latlng is None or _cell_to_boundary is None:
        return None

    def to_xy(lat: float, lng: float) -> tuple[float, float]:
        # exact inverse of _to_latlng (patch-centered)
        return (((lng - PATCH_LNG0) / _SPAN_DEG + 0.5) * EXTENT,
                ((lat - PATCH_LAT0) / _SPAN_DEG + 0.5) * EXTENT)

    cells = set()
    for gx in np.linspace(0.0, float(EXTENT), 17):
        for gy in np.linspace(0.0, float(EXTENT), 17):
            lat, lng = _to_latlng(np.array([gx]), np.array([gy]))
            cells.update(_grid_disk(
                _latlng_to_cell(float(lat[0]), float(lng[0]), res), 1))
    best = math.inf
    for c in cells:
        clat, clng = _cell_to_latlng(c)
        cx, cy = to_xy(clat, clng)
        bnd = [to_xy(la, ln) for la, ln in _cell_to_boundary(c)]
        for i in range(len(bnd)):
            ax, ay = bnd[i]
            bx, by = bnd[(i + 1) % len(bnd)]
            best = min(best, 2.0 * _seg_dist(cx, cy, ax, ay, bx, by))
    return best * _MEASURE_MARGIN if math.isfinite(best) else None


def cell_size(res: int) -> float:
    """Minimum hexagon width at ``res`` in planar units — the quantity
    the coverage proofs bound. Measured over the mapped patch (cached);
    average-based analytic value x _SAFETY as the fallback."""
    if res not in _min_width_cache:
        m = _measured_min_width(res)
        if m is None:
            m = _edge_length_m(res) * math.sqrt(3.0) / M_PER_UNIT * _SAFETY
        _min_width_cache[res] = m
    return _min_width_cache[res]


def res_for_radius(radius: float) -> int:
    """Finest res whose minimum hexagon width >= radius (see module
    docstring for why that makes k-ring(1) coverage exact)."""
    for res in range(MAX_RES, -1, -1):
        if cell_size(res) >= radius:
            return res
    return 0


def cell_of_xy(x: Column, y: Column, res: int) -> Column:
    @F.pandas_udf(LongType())
    def enc(xs: pd.Series, ys: pd.Series) -> pd.Series:
        lat, lng = _to_latlng(xs.to_numpy(), ys.to_numpy())
        return pd.Series(
            [_latlng_to_cell(la, ln, res) for la, ln in zip(lat, lng)],
            dtype="int64",
        )

    return enc(x, y)


def parent_cell(cell: Column, res: int, parent_res: int) -> Column:
    if parent_res > res:
        raise ValueError("parent_res must be <= res")

    @F.pandas_udf(LongType())
    def par(cs: pd.Series) -> pd.Series:
        return pd.Series(
            [_cell_to_parent(int(c), parent_res) for c in cs], dtype="int64"
        )

    return par(cell)

