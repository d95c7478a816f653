"""Vector zoom generalization — per-level polyline simplification.

The raster side of the tile stack rolls up with operators/pyramid.py;
the VECTOR side (road/boundary arcs rendered into the same tiles)
generalizes by Douglas–Peucker simplification with a per-zoom tolerance
tied to the cell size: at resolution r one pixel of a t-pixel tile
spans ``cell_size(r) / t`` map units, and detail below that is
invisible. Reference parity: egp-crn simplifies geometry for speed
(helpers.py:376 ``buffer(resolution=5)``, fetch_deltas.py:197); here
simplification is a first-class distributed operator (Arrow-batched
numpy kernel, never per-row Python).

Scale shape: embarrassingly parallel (one row in, one row out, no
shuffle); a multi-zoom build is a union of per-zoom passes over the
same scan, each pass pruning to the columns it needs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.cells import cell_size
from ..functions.geomkernel import simplify_dp, vertex_array

__all__ = ["simplify_lines", "zoom_tolerance", "generalize_levels"]


def zoom_tolerance(res: int, tile_px: int = 256) -> float:
    """The invisible-detail tolerance at ``res``: one tile pixel."""
    return cell_size(res) / tile_px


def simplify_lines(arcs: DataFrame, tol: float,
                   vertices_col: str = "vertices") -> DataFrame:
    """Douglas–Peucker every polyline (array<array<double>> [x, y]
    vertices) with tolerance ``tol``. Endpoints survive — arc topology
    (node identity at segment ends, operators/nodes.py) is preserved by
    construction. Null/short rows pass through untouched."""
    what = f"simplify_lines {vertices_col}"

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for v in pdf[vertices_col]:
                line = None if v is None else vertex_array(v, what)
                out.append(v if line is None or len(line) <= 2
                           else simplify_dp(line, tol).tolist())
            pdf = pdf.copy()
            # object Series: rows carry ragged list-of-[x, y] lists
            pdf[vertices_col] = pd.Series(out, index=pdf.index,
                                          dtype=object)
            yield pdf

    return arcs.mapInPandas(gen, schema=arcs.schema)


def generalize_levels(arcs: DataFrame, reses: list[int],
                      tile_px: int = 256,
                      vertices_col: str = "vertices") -> DataFrame:
    """One generalized copy of the arc set per zoom level, tagged with
    ``res`` — the vector twin of build_pyramid's level union.

    Single-scan (r9, VERDICT r8 #5): the former shape unioned one
    simplify_lines pass per zoom, so an N-zoom build scanned (and
    Arrow-shipped, and vertex-parsed) the arc table N times. This emits
    every zoom from ONE mapInPandas pass — each row's vertex array is
    parsed once and Douglas–Peucker runs per tolerance from the
    ORIGINAL line (identical per-zoom rows to the union form: DP from
    the original is what keeps the exact per-zoom deviation bound;
    only row order differs)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    tols = [(r, zoom_tolerance(r, tile_px))
            for r in sorted(reses, reverse=True)]
    cols = list(arcs.columns)
    schema = StructType(list(arcs.schema.fields)
                        + [StructField("res", IntegerType(), False)])

    what = f"generalize_levels {vertices_col}"

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # null and short rows pass through untouched (line None)
            lines = [None if v is None else vertex_array(v, what)
                     for v in pdf[vertices_col]]
            lines = [a if a is not None and len(a) > 2 else None for a in lines]
            frames = []
            for r, tol in tols:
                out = [v if line is None else simplify_dp(line, tol).tolist()
                       for v, line in zip(pdf[vertices_col], lines)]
                q = pdf.copy()
                q[vertices_col] = pd.Series(out, index=pdf.index,
                                            dtype=object)
                q["res"] = np.int32(r)
                frames.append(q)
            yield pd.concat(frames, ignore_index=True)[cols + ["res"]]

    return arcs.mapInPandas(gen, schema=schema)
