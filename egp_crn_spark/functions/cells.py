"""Hierarchical Z-order (Morton) cell index — pure Column bit arithmetic.

This is the engine's replacement for the reference's per-query STRtree
(/root/reference/src/topology/validate_topology.py:194,285,384 — the sole
join-acceleration structure there) AND for its manual ~140-region tiling
(/root/reference/src/config.yaml:23-160): a quadtree over the planar domain
[0, EXTENT)^2 with resolutions 0..16 (2**r cells per axis, H3/S2-style
parent/child/k-ring semantics).

Everything here is JVM-side Catalyst expression — cell encode costs ~10
bit ops per row inside whole-stage codegen, joins are on plain BIGINTs.
That is deliberately cheaper at 100 TB than string-typed library cell ids
computed in Python UDFs.

Cell id layout (bigint): ``(res << 36) | morton`` where
``morton = interleave(ix, iy)``, ix/iy in [0, 2**res).

One algorithm, three renderers, bit-identical ids — keep them in sync
(tests/test_cells.py and the conformance suite check them against each
other, the bit spread on every 16-bit input):

  * Column builders — the operators' path. The bit spread is two lookups
    in a 256-entry byte table (one shared array Literal), so each input
    appears twice in the expression tree; clamping is a CASE chain.
    Both choices keep plan construction to a few Py4J round trips per
    builder and the trees Catalyst re-walks on every ``withColumn`` small.
  * ``*_sql`` emitters — DuckDB-compatible SQL for the driver's oracle
    harness: the classic shift/mask spread and least/greatest clamping.
  * ``*_np`` twins — vectorized numpy for pandas-UDF refinement kernels,
    the same shift/mask spread; ``spread_bits_np`` is the reference.

H3/S2 BACKEND SEAM — every operator reaches cell geometry ONLY through
this module's API (tests/test_cells_conformance.py is the contract any
backend must pass). To swap in real H3 on a cluster with the lib:

  cell_of_xy(x, y, res)   → h3.latlng_to_cell (inside a pandas UDF batch)
  parent_cell(c, r, pr)   → h3.cell_to_parent
  kring_cells(ix, iy, r)  → h3.grid_disk of cell_of_xy (ix/iy collapse
                            into the cell id; k picked via res_for_radius)
  idx_of / cell_encode    → internal to the Morton backend; H3 callers
                            use cell_of_xy directly
  cell_size(res)          → min edge length of a res-``res`` hex
                            (hex edge ≥ incircle radius: k-ring coverage
                            proofs carry over with k bumped by 1)
  res_for_radius(radius)  → finest res whose cell incircle ≥ radius

The coverage invariant every operator relies on (and the conformance
test asserts): a point within ``radius`` of another point/segment shares
at least one cell between its k-ring(1) at res_for_radius(radius) and
the other geometry's cover cells at the same res.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import EXTENT, MAX_RES

RES_SHIFT = 36

_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


# bit i of b moved to bit 2i, for every byte b: the Column path's table
_SPREAD8 = tuple(
    sum(((b >> i) & 1) << (2 * i) for i in range(8)) for b in range(256)
)


# ---------------------------------------------------------------- Column builders
# Each Column method call is one Py4J round trip and each ``F.*`` call
# about three, paid on the driver every time a plan is built; the
# builders below use Column methods with Python scalars where they can.
@functools.lru_cache(maxsize=1)
def _spread8_table(sc) -> Column:
    """``_SPREAD8`` as ONE bigint array Literal node, built once per
    SparkContext ``sc`` (shipping the array costs ~500 round trips; the
    Column is immutable, so every plan shares it). An ``array(...)``
    expression would put 256 more nodes per lookup through analysis."""
    return F.lit(np.array(_SPREAD8, dtype=np.int64))


def _spread_bits(c: Column) -> Column:
    """Spread the low 16 bits of c so bit i moves to bit 2i.

    Two byte-table lookups, so ``c`` appears twice in the expression
    tree. The shift/mask chain of the numpy and SQL twins reads its
    input twice per step and would copy ``c`` 2**4 times."""
    t = _spread8_table(SparkContext._active_spark_context)
    lo = t[c.bitwiseAND(255)]
    hi = t[F.shiftright(c, 8).bitwiseAND(255)]
    return lo.bitwiseOR(hi * 65536)  # hi << 16


def cell_encode(ix: Column, iy: Column, res: int) -> Column:
    """Cell id from integer cell coordinates at resolution ``res``."""
    return _spread_bits(ix).bitwiseOR(_spread_bits(iy) * 2).bitwiseOR(res << RES_SHIFT)


def idx_of(coord: Column, res: int) -> Column:
    """Clamped integer cell coordinate of ONE axis coordinate — the
    building block for bbox cover-cell explosion (explode
    sequence(idx_of(lo), idx_of(hi)) per axis). A null coordinate maps
    to 0, as ``least(greatest(floor(..), 0), n - 1)`` does."""
    n = 1 << res
    i = F.floor(coord * (n / EXTENT))
    return F.when(i > n - 1, n - 1).when(i >= 0, i).otherwise(0)


def xy_to_ixy(x: Column, y: Column, res: int) -> tuple[Column, Column]:
    """Integer cell coordinates at resolution ``res`` (clamped to domain)."""
    return idx_of(x, res), idx_of(y, res)


def cell_of_xy(x: Column, y: Column, res: int) -> Column:
    ix, iy = xy_to_ixy(x, y, res)
    return cell_encode(ix, iy, res)


def parent_cell(cell: Column, res: int, parent_res: int) -> Column:
    """Parent cell at a coarser resolution (compact direction)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    morton = cell.bitwiseAND((1 << RES_SHIFT) - 1)
    return (
        F.shiftright(morton, 2 * (res - parent_res))
        .bitwiseOR(parent_res << RES_SHIFT)
        .cast("long")
    )


def kring_cells(ix: Column, iy: Column, res: int, k: int = 1) -> Column:
    """Array of cell ids of the (2k+1)^2 ring around (ix, iy), domain-clamped.

    The distributed distance-join prefilter: explode this array and
    equi-join on cell id (SURVEY.md §2.3 J2/J7 mapping). Each axis
    offset is spread once (null outside the domain) and the ring cells
    OR the spread pairs together, so an invalid offset nulls its cells.
    """
    n = 1 << res

    def spread_offsets(c: Column) -> list[Column]:
        out = []
        for d in range(-k, k + 1):
            v = c + d
            out.append(F.when((v >= 0) & (v < n), _spread_bits(v)))
        return out

    sy = [s * 2 for s in spread_offsets(iy)]
    return F.array_compact(F.array(*[
        sx.bitwiseOR(s).bitwiseOR(res << RES_SHIFT)
        for sx in spread_offsets(ix) for s in sy
    ]))


# ---------------------------------------------------------------- SQL emitters
def _spread_bits_sql(e: str) -> str:
    e = f"({e} & 65535)"
    for shift, mask in _MASKS:
        e = f"((({e} | ({e} << {shift})) & {mask}))"
    return e


def cell_encode_sql(ix: str, iy: str, res: int) -> str:
    return f"({res << RES_SHIFT} | ({_spread_bits_sql(ix)} | ({_spread_bits_sql(iy)} << 1)))"


def xy_to_ix_sql(x: str, res: int) -> str:
    n = 1 << res
    return f"least(greatest(cast(floor({x} * {n / EXTENT!r}) as bigint), 0), {n - 1})"


def cell_of_xy_sql(x: str, y: str, res: int) -> str:
    return cell_encode_sql(xy_to_ix_sql(x, res), xy_to_ix_sql(y, res), res)


# ---------------------------------------------------------------- numpy twins
def spread_bits_np(a: np.ndarray) -> np.ndarray:
    a = a.astype(np.int64) & 0xFFFF
    for shift, mask in _MASKS:
        a = (a | (a << shift)) & mask
    return a


def cell_encode_np(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    return (res << RES_SHIFT) | spread_bits_np(ix) | (spread_bits_np(iy) << 1)


def cell_of_xy_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.clip(np.floor(x * (n / EXTENT)).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(y * (n / EXTENT)).astype(np.int64), 0, n - 1)
    return cell_encode_np(ix, iy, res)


def cell_size(res: int) -> float:
    """Edge length of one cell at resolution ``res``."""
    return EXTENT / (1 << res)


def res_for_radius(radius: float, max_res: int = MAX_RES) -> int:
    """Finest resolution whose cell edge is >= radius.

    At this resolution a 3x3 k-ring (k=1) is guaranteed to cover every
    point within ``radius`` — makes cell-prefiltered distance joins exact.
    """
    res = 0
    while res + 1 <= max_res and cell_size(res + 1) >= radius:
        res += 1
    return res
