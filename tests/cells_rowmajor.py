"""Row-major cell backend — a second implementation of the cells API.

Exists to PROVE the backend seam (functions/cells.py docstring): every
axiom in tests/test_cells_conformance.py that operators rely on holds
for this backend too, so an h3-backed twin only has to pass the same
contract — no operator changes. Cell id layout: ``(res << 36) |
(iy * 2**res + ix)`` — deliberately NOT Morton, so any accidental
dependence on Z-order bit structure in a caller would fail the
conformance suite against this module.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from egp_crn_spark.config import EXTENT, MAX_RES

RES_SHIFT = 36


def cell_encode(ix: Column, iy: Column, res: int) -> Column:
    n = 1 << res
    return (F.lit(res << RES_SHIFT).bitwiseOR(iy * n + ix)).cast("long")


def idx_of(coord: Column, res: int) -> Column:
    n = 1 << res
    return (
        F.least(F.greatest(F.floor(coord * F.lit(n / EXTENT)), F.lit(0)), F.lit(n - 1))
        .cast("long")
    )


def xy_to_ixy(x: Column, y: Column, res: int) -> tuple[Column, Column]:
    return idx_of(x, res), idx_of(y, res)


def cell_of_xy(x: Column, y: Column, res: int) -> Column:
    ix, iy = xy_to_ixy(x, y, res)
    return cell_encode(ix, iy, res)


def parent_cell(cell: Column, res: int, parent_res: int) -> Column:
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    n = 1 << res
    d = res - parent_res
    m = cell.bitwiseAND(F.lit((1 << RES_SHIFT) - 1))
    # exact integer decode: n is a power of two, so iy = m >> res (a
    # double division would round silently once the payload outgrows the
    # 53-bit mantissa — invisible at MAX_RES=16 but a trap if RES_SHIFT
    # ever grows). Matches the bit-level style of the Morton backend.
    ix, iy = F.pmod(m, F.lit(n)), F.shiftright(m, res)
    return cell_encode(F.shiftright(ix, d), F.shiftright(iy, d), parent_res)


def kring_cells(ix: Column, iy: Column, res: int, k: int = 1) -> Column:
    n = 1 << res
    cols = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx, ny = ix + F.lit(dx), iy + F.lit(dy)
            valid = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
            cols.append(F.when(valid, cell_encode(nx.cast("long"), ny.cast("long"), res)))
    return F.array_compact(F.array(*cols))



def cell_of_xy_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    n = 1 << res
    ix = np.clip(np.floor(x * (n / EXTENT)).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(y * (n / EXTENT)).astype(np.int64), 0, n - 1)
    return (res << RES_SHIFT) | (iy * n + ix)


def cell_of_xy_sql(x: str, y: str, res: int) -> str:
    n = 1 << res

    def idx(e: str) -> str:
        return f"least(greatest(cast(floor({e} * {n / EXTENT!r}) as bigint), 0), {n - 1})"

    return f"({res << RES_SHIFT} | ({idx(y)} * {n} + {idx(x)}))"


def cell_size(res: int) -> float:
    return EXTENT / (1 << res)


def res_for_radius(radius: float, max_res: int = MAX_RES) -> int:
    res = 0
    while res + 1 <= max_res and cell_size(res + 1) >= radius:
        res += 1
    return res
