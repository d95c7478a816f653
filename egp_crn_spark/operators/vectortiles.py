"""Vector tile materialization — clip arcs into per-cell tiles per zoom.

The raster half of the BASELINE.json "raster↔vector tile
materialization" lives in operators/images.py (per-tile decode/PSNR)
and operators/pyramid.py (the zoom stack); this is the VECTOR half:
every arc is cut into the cells it crosses, boundary intersections
inserted exactly, so each tile can be rendered/served independently.
Composes with operators/generalize.py (simplify first, then cut) for a
full per-zoom vector tile build.

Scale shape: one shuffle-free Arrow-batched pass, no joins. r9
vectorized the kernel end to end (VERDICT r8 #2): all segments of an
Arrow batch are flattened into numpy arrays, cover cells come from
ragged index arithmetic, Liang–Barsky parameters are computed for
every (segment, cell) pair at once, pieces are stitched by comparing
each pair's entry point to the previous pair's exit point within the
(arc, cell) group, and the output lists are built directly as Arrow
ListArrays from offset arrays — zero per-segment Python, zero
per-piece list building. Work remains O(vertices + emitted pieces) per
arc (segments are assigned to the one or two cells their own bbox
covers, never the whole arc's span). ``max_cover`` bounds the per-arc
tile fan-out (output rows), not the compute.

The load-bearing invariant (driver-checked in q_vector_tiles and
pinned in tests): a tile grid partitions the plane, so the pieces of an
arc sum to EXACTLY the arc's length — nothing dropped, nothing
double-counted. The vectorized kernel reproduces the scalar stitcher's
semantics exactly (same clip arithmetic in the same plane order, same
endpoint-exactness special cases, same stitch rule — pinned by the
reference-parity test in tests/test_vectortiles.py).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame

from ..config import EXTENT
from ..functions.cells import cell_encode_np, cell_size

__all__ = ["vector_tiles"]


def _list_view(arr):
    """(offsets, child) of a pyarrow ListArray, slice-offset adjusted.
    ``offsets`` indexes into the UNSLICED child array."""
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)
    off = off[arr.offset:arr.offset + len(arr) + 1]
    return off, arr.values


def vector_tiles(arcs: DataFrame, res: int,
                 vertices_col: str = "vertices",
                 id_col: str = "arc_id",
                 max_cover: int = 4096) -> DataFrame:
    """Cut every polyline into per-cell pieces at resolution ``res``.
    Returns (id_col, tile, part, vertices): ``tile`` the Morton cell id,
    ``part`` the piece ordinal within (arc, tile) in path order.
    Raises inside the kernel if an arc touches more than ``max_cover``
    cells (a domain-spanning arc at fine res — simplify or coarsen
    first; silent truncation would break the length invariant)."""
    import pyarrow as pa

    cs = cell_size(res)
    n_cells = 1 << res
    scale = n_cells / EXTENT
    out_type = pa.list_(pa.list_(pa.float64()))

    def gen(batches) -> Iterator["pa.RecordBatch"]:
        for b in batches:
            n_arcs = b.num_rows
            if not n_arcs:
                continue
            ids_col = b.column(0)
            varr = b.column(1)
            valid = varr.is_valid().to_numpy(zero_copy_only=False)
            outer_off, inner = _list_view(varr)
            inner_off, coords_arr = _list_view(inner)
            coords = coords_arr.to_numpy(zero_copy_only=False)
            vcnt = (outer_off[1:] - outer_off[:-1]).astype(np.int64)
            # vertex j -> (x, y) = first two doubles of its inner list;
            # a shorter (or null) vertex of a non-null arc raises, as the
            # scalar stitcher does, instead of reading the next x as y
            own = np.where(valid, vcnt, 0)
            n_own = int(own.sum())
            if n_own:
                vi = (np.repeat(outer_off[:-1].astype(np.int64), own)
                      + np.arange(n_own) - np.repeat(np.cumsum(own) - own, own))
                short = (inner_off[vi + 1] - inner_off[vi]) < 2
                if short.any():
                    bad = int(np.repeat(np.arange(n_arcs), own)[np.argmax(short)])
                    raise ValueError(
                        f"arc {ids_col[bad].as_py()!r} has a vertex with "
                        "fewer than 2 coordinates")
            vx = coords[inner_off[:-1]]
            vy = coords[inner_off[:-1] + 1] if len(inner_off) > 1 else vx

            segc = np.where(valid & (vcnt >= 2), vcnt - 1, 0)
            n_seg = int(segc.sum())
            if not n_seg:
                continue
            seg_arc = np.repeat(np.arange(n_arcs), segc)
            seg_loc = np.arange(n_seg) - np.repeat(
                np.cumsum(segc) - segc, segc)
            sv = outer_off[:-1].astype(np.int64)[seg_arc] + seg_loc
            ax, ay = vx[sv], vy[sv]
            bx, by = vx[sv + 1], vy[sv + 1]

            # cover cells of each segment's own bbox (domain-clamped,
            # same clamping as the cells_covering_bbox twin in tests/twins.py)
            ix0 = np.clip(np.floor(np.minimum(ax, bx) * scale),
                          0, n_cells - 1).astype(np.int64)
            ix1 = np.clip(np.floor(np.maximum(ax, bx) * scale),
                          0, n_cells - 1).astype(np.int64)
            iy0 = np.clip(np.floor(np.minimum(ay, by) * scale),
                          0, n_cells - 1).astype(np.int64)
            iy1 = np.clip(np.floor(np.maximum(ay, by) * scale),
                          0, n_cells - 1).astype(np.int64)
            ch = iy1 - iy0 + 1
            cov = (ix1 - ix0 + 1) * ch
            n_pair = int(cov.sum())
            ps = np.repeat(np.arange(n_seg), cov)
            loc = np.arange(n_pair) - np.repeat(np.cumsum(cov) - cov, cov)
            chp = ch[ps]
            cx = ix0[ps] + loc // chp
            cy = iy0[ps] + loc % chp

            # Liang–Barsky for every (segment, cell) pair — identical
            # plane order and arithmetic to the clip_polyline_to_box twin
            # (tests/twins.py)
            A_x, A_y = ax[ps], ay[ps]
            Dx, Dy = (bx - ax)[ps], (by - ay)[ps]
            x0 = cx * cs
            y0 = cy * cs
            t0 = np.zeros(n_pair)
            t1 = np.ones(n_pair)
            ok = np.ones(n_pair, dtype=bool)
            for p, q in ((-Dx, A_x - x0), (Dx, x0 + cs - A_x),
                         (-Dy, A_y - y0), (Dy, y0 + cs - A_y)):
                nz = p != 0.0
                r = np.where(nz, q / np.where(nz, p, 1.0), 0.0)
                neg = nz & (p < 0.0)
                pos = nz & (p > 0.0)
                ok &= np.where(nz, True, q >= 0.0)
                ok &= ~(neg & (r > t1))
                ok &= ~(pos & (r < t0))
                t0 = np.where(neg, np.maximum(t0, r), t0)
                t1 = np.where(pos, np.minimum(t1, r), t1)
            ok &= t0 <= t1
            pax = np.where(t0 == 0.0, A_x, A_x + t0 * Dx)
            pay = np.where(t0 == 0.0, A_y, A_y + t0 * Dy)
            pbx = np.where(t1 == 1.0, bx[ps], A_x + t1 * Dx)
            pby = np.where(t1 == 1.0, by[ps], A_y + t1 * Dy)
            # single-cover segments bypass the clip entirely (the scalar
            # kernel's interior branch): both endpoints CLAMP into one
            # cell, so the raw segment is emitted as-is — for in-domain
            # data the clip returns the identical endpoints anyway, and
            # for off-domain data this preserves the established
            # edge-cell semantics (pinned by the parity test)
            intr = cov[ps] == 1
            pax = np.where(intr, A_x, pax)
            pay = np.where(intr, A_y, pay)
            pbx = np.where(intr, bx[ps], pbx)
            pby = np.where(intr, by[ps], pby)
            ok |= intr
            keep = ok & ((pax != pbx) | (pay != pby))
            if not keep.any():
                continue
            ps = ps[keep]
            cell = cell_encode_np(cx[keep], cy[keep], res)
            pax, pay = pax[keep], pay[keep]
            pbx, pby = pbx[keep], pby[keep]
            arcp = seg_arc[ps]

            # group by (arc, cell), keeping path order inside each group
            # (stable lexsort; per (arc, cell) there is at most one pair
            # per segment, so original order == segment order)
            idx = np.lexsort((cell, arcp))
            arcp, cell = arcp[idx], cell[idx]
            pax, pay = pax[idx], pay[idx]
            pbx, pby = pbx[idx], pby[idx]
            m = len(idx)
            newgrp = np.ones(m, dtype=bool)
            newgrp[1:] = (arcp[1:] != arcp[:-1]) | (cell[1:] != cell[:-1])

            # max_cover: distinct cells per arc = groups per arc
            g_arc = arcp[newgrp]
            cover_per_arc = np.bincount(g_arc, minlength=n_arcs)
            if (cover_per_arc > max_cover).any():
                bad = int(np.argmax(cover_per_arc > max_cover))
                aid = ids_col[bad].as_py()
                raise ValueError(
                    f"arc {aid!r} touches {int(cover_per_arc[bad])} cells "
                    f"at res {res} (> max_cover={max_cover}); "
                    "generalize or tile at a coarser resolution")

            # stitch: a pair extends the group's open piece iff its
            # entry point equals the previous pair's exit point exactly
            joinable = np.zeros(m, dtype=bool)
            joinable[1:] = (~newgrp[1:] & (pax[1:] == pbx[:-1])
                            & (pay[1:] == pby[:-1]))
            p_start = ~joinable
            piece_id = np.cumsum(p_start) - 1
            n_piece = int(piece_id[-1]) + 1

            # part ordinal within (arc, cell): piece rank minus the rank
            # of the group's first piece
            grp_id = np.cumsum(newgrp) - 1
            p_grp = grp_id[p_start]
            pg_start = np.flatnonzero(
                np.r_[True, p_grp[1:] != p_grp[:-1]])
            pg_len = np.diff(np.r_[pg_start, n_piece])
            part = (np.arange(n_piece)
                    - np.repeat(pg_start, pg_len)).astype(np.int32)

            # vertex stream: piece-opening pairs contribute (entry,
            # exit), continuation pairs contribute exit only
            vc = p_start.astype(np.int64) + 1
            voff = np.cumsum(vc) - vc
            n_v = int(voff[-1] + vc[-1])
            X = np.empty(n_v)
            Y = np.empty(n_v)
            X[voff + p_start] = pbx
            Y[voff + p_start] = pby
            X[voff[p_start]] = pax[p_start]
            Y[voff[p_start]] = pay[p_start]
            flat = np.empty(n_v * 2)
            flat[0::2] = X
            flat[1::2] = Y

            piece_vc = np.bincount(piece_id, weights=vc).astype(np.int64)
            inner_arr = pa.ListArray.from_arrays(
                pa.array(np.arange(n_v + 1, dtype=np.int32) * 2),
                pa.array(flat, type=pa.float64()))
            outer_arr = pa.ListArray.from_arrays(
                pa.array(np.r_[0, np.cumsum(piece_vc)].astype(np.int32)),
                inner_arr).cast(out_type)
            yield pa.RecordBatch.from_arrays(
                [ids_col.take(pa.array(arcp[p_start])),
                 pa.array(cell[p_start], type=pa.int64()),
                 pa.array(part, type=pa.int32()),
                 outer_arr],
                [id_col, "tile", "part", "vertices"])

    schema = (f"{id_col} long, tile long, part int, "
              "vertices array<array<double>>")
    return arcs.select(id_col, vertices_col).mapInArrow(gen, schema)
