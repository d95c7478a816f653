"""Geometric dissolve — group-by union of faces (A4 of SURVEY.md §2.4).

Re-expresses `meshblock.dissolve(by=bb_uid)` (review_meshblock.py:83):
merge each block's faces into its outer boundary polygon(s).

Relational reduction instead of pairwise geometric union: within a block,
a ring segment shared by two faces is interior; segments used exactly
once form the block's boundary. Re-chaining those boundary segments with
the half-edge polygonize kernel yields the dissolved outer ring(s) —
one groupBy + one per-block kernel call, no O(faces²) unions.
(Blocks with holes emit the hole rings as additional faces; the caller
keeps the largest-area ring when hole-free output is required.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.polygonize_kernel import polygonize_segments
from . import nodes as N

DISSOLVED_SCHEMA = "bb_uid long, ring_idx int, vertices array<array<double>>, area double"


def dissolve_blocks(faces: DataFrame, block_col: str = "bb_uid",
                    vertices: str = "vertices") -> DataFrame:
    """faces: (bb_uid, vertices ring). Returns dissolved rings per block."""
    ring = faces.select(
        F.col(block_col),
        F.concat(F.col(vertices), F.slice(F.col(vertices), 1, 1)).alias("rv"),
    )
    segs = N.segment_keys(ring, block_col, "rv").select(
        block_col,
        F.element_at("a", 1).alias("ax"), F.element_at("a", 2).alias("ay"),
        F.element_at("b", 1).alias("bx"), F.element_at("b", 2).alias("by"),
        "_k1", "_k2",
    )
    # boundary segments: used exactly once within the block
    w_cnt = segs.groupBy(block_col, "_k1", "_k2").agg(
        F.count("*").alias("_n"),
        F.first("ax").alias("ax"), F.first("ay").alias("ay"),
        F.first("bx").alias("bx"), F.first("by").alias("by"),
    )
    boundary = w_cnt.filter("_n = 1")

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        bb = pdf[block_col].iloc[0]
        segments = [((a, b), (c, d)) for a, b, c, d in
                    zip(pdf["ax"], pdf["ay"], pdf["bx"], pdf["by"])]
        rings = polygonize_segments(segments)
        rows = []
        for i, r in enumerate(rings):
            x, y = r[:, 0], r[:, 1]
            area = abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0
            rows.append((int(bb), i, r.tolist(), float(area)))
        return pd.DataFrame(rows, columns=["bb_uid", "ring_idx", "vertices", "area"])

    return boundary.groupBy(block_col).applyInPandas(per_block, schema=DISSOLVED_SCHEMA)


def explode_multipart(df: DataFrame, parts_col: str = "parts",
                      vertices: str = "vertices") -> DataFrame:
    """MultiLineString → LineStrings (helpers.explode_geometry,
    helpers.py:181-208): one row per part."""
    return df.withColumn(vertices, F.explode(F.col(parts_col))).drop(parts_col)
