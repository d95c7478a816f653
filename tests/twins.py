"""Test-side twins: independent numpy and Column formulations that
tests check live engine code against — the vector-tile clip against
``clip_polyline_to_box`` and the cell cover/decode pair, v202's Column
overlap test against ``segments_overlap``, snapping and simplification
against ``point_to_polyline_distance``, and ``simhash_signatures``
against the per-row Column ``simhash64``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from egp_crn_spark.config import EXTENT
from egp_crn_spark.functions.cells import RES_SHIFT, cell_encode_np
from egp_crn_spark.functions.geomkernel import EPS
from egp_crn_spark.operators.text import tokens


# ---------------------------------------------------------------- cells
def cells_covering_bbox(
    xmin: float, ymin: float, xmax: float, ymax: float, res: int
) -> np.ndarray:
    """All cell ids at ``res`` whose square intersects the bbox."""
    n = 1 << res
    scale = n / EXTENT
    ix0 = int(np.clip(np.floor(xmin * scale), 0, n - 1))
    ix1 = int(np.clip(np.floor(xmax * scale), 0, n - 1))
    iy0 = int(np.clip(np.floor(ymin * scale), 0, n - 1))
    iy1 = int(np.clip(np.floor(ymax * scale), 0, n - 1))
    ixs, iys = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.int64),
        np.arange(iy0, iy1 + 1, dtype=np.int64),
        indexing="ij",
    )
    return cell_encode_np(ixs.ravel(), iys.ravel(), res)


def compress_bits_np(a: np.ndarray) -> np.ndarray:
    """Inverse of spread_bits_np: gather every second bit back into the
    low 16 — the Morton decode half (classic pair-merge chain)."""
    a = a.astype(np.int64) & 0x55555555
    a = (a | (a >> 1)) & 0x33333333
    a = (a | (a >> 2)) & 0x0F0F0F0F
    a = (a | (a >> 4)) & 0x00FF00FF
    a = (a | (a >> 8)) & 0x0000FFFF
    return a


def cell_to_ixy_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Morton decode: cell ids → integer cell coordinates (ix, iy)."""
    morton = cell.astype(np.int64) & ((1 << RES_SHIFT) - 1)
    return compress_bits_np(morton), compress_bits_np(morton >> 1)


# ---------------------------------------------------------------- geometry
def segments_overlap(p1: np.ndarray, p2: np.ndarray,
                     q1: np.ndarray, q2: np.ndarray) -> np.ndarray:
    """Vectorized single-segment twin of polylines_overlap: collinear
    with a positive-length shared section. Same EPS discipline."""
    d = p2 - p1
    # sqrt(dx*dx + dy*dy), NOT np.hypot: the pure-Column fast path
    # (validate._seg_overlap_col) can only express the sqrt form, and
    # hypot differs from it by an ulp on some inputs — same-operation-
    # order parity between the two paths requires the same formula here.
    L1 = np.sqrt(d[:, 0] * d[:, 0] + d[:, 1] * d[:, 1])
    ok = L1 > EPS
    c1 = d[:, 0] * (q1[:, 1] - p1[:, 1]) - d[:, 1] * (q1[:, 0] - p1[:, 0])
    c2 = d[:, 0] * (q2[:, 1] - p1[:, 1]) - d[:, 1] * (q2[:, 0] - p1[:, 0])
    col = (np.abs(c1) <= EPS * L1) & (np.abs(c2) <= EPS * L1)
    L2 = np.where(L1 > 0, L1 * L1, 1.0)
    t1 = ((q1 - p1) * d).sum(axis=1) / L2
    t2 = ((q2 - p1) * d).sum(axis=1) / L2
    lo = np.minimum(t1, t2)
    hi = np.maximum(t1, t2)
    return ok & col & (np.minimum(hi, 1.0) - np.maximum(lo, 0.0) > EPS)


def point_to_polyline_distance(x: float, y: float, line: np.ndarray) -> float:
    p = np.array([x, y])
    a, b = line[:-1], line[1:]
    ab = b - a
    ab2 = (ab**2).sum(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(((p - a) * ab).sum(axis=1) / np.where(ab2 == 0, 1, ab2), 0, 1)
    proj = a + t[:, None] * ab
    return float(np.sqrt(((proj - p) ** 2).sum(axis=1).min()))


def clip_polyline_to_box(line: np.ndarray, x0: float, y0: float,
                         x1: float, y1: float) -> list[np.ndarray]:
    """Clip a polyline to a closed axis-aligned box (Liang–Barsky per
    segment, consecutive in-box runs stitched into pieces). Returns the
    pieces in path order; boundary-crossing points are inserted exactly
    (linear interpolation), zero-length pieces are dropped. Length is
    conserved: the pieces of a plane-partitioning tile grid sum to the
    original polyline length (the vector-tile invariant
    tests/test_vectortiles.py pins)."""
    pieces: list[np.ndarray] = []
    cur: list[np.ndarray] = []

    def flush():
        nonlocal cur
        if len(cur) >= 2:
            arr = np.asarray(cur)
            if float(np.abs(np.diff(arr, axis=0)).sum()) > 0.0:
                pieces.append(arr)
        cur = []

    for a, b in zip(line[:-1], line[1:]):
        d = b - a
        t0, t1 = 0.0, 1.0
        ok = True
        for p, q in ((-d[0], a[0] - x0), (d[0], x1 - a[0]),
                     (-d[1], a[1] - y0), (d[1], y1 - a[1])):
            if p == 0.0:
                if q < 0.0:
                    ok = False
                    break
                continue
            r = q / p
            if p < 0.0:
                if r > t1:
                    ok = False
                    break
                t0 = max(t0, r)
            else:
                if r < t0:
                    ok = False
                    break
                t1 = min(t1, r)
        if not ok or t0 > t1:
            flush()
            continue
        pa = a if t0 == 0.0 else a + t0 * d
        pb = b if t1 == 1.0 else a + t1 * d
        if t0 > 0.0 or not cur:
            flush()
            cur = [pa]
        cur.append(pb)
        if t1 < 1.0:
            flush()
    flush()
    return pieces


# ---------------------------------------------------------------- text
def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens — pure Column: per-token
    xxhash64 bits vote ±1 per position; sign → bit. Bit positions are
    unrolled statically (shift amounts must be Python ints). The md5
    form a DuckDB oracle can reproduce is simhash_signatures(use_md5=True).

    The token hash is hoisted into a transform() so it runs ONCE per
    token — lambda bodies get no Catalyst subexpression elimination, so
    inlining it in the per-bit expressions would cost 64 hash
    evaluations per token."""
    toks = F.transform(tokens(text), lambda t: F.xxhash64(t))
    votes = F.aggregate(
        toks,
        F.array(*[F.lit(0)] * 64).cast("array<int>"),
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[
                F.when(F.shiftright(t, b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1) for b in range(64)
            ]),
            lambda a, v: a + v,
        ),
    )
    # OR of disjoint bit literals == sum; bit 63 is the sign bit of a long
    terms = [
        F.when(F.element_at(votes, b + 1) > 0,
               F.lit(-(1 << 63) if b == 63 else (1 << b)).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        for b in range(64)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out
