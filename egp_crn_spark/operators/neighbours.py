"""Block neighbourhood comparison (meshblock review).

Re-expresses /root/reference/src/review/review_meshblock.py:74-133:
dissolve faces by block id, compile each block's set of touching
neighbour blocks, and diff the CRN neighbourhood against the NGD
neighbourhood per linked block (extra / missing as comma-joined strings).

Distributed shape: no geometric dissolve is materialized — blocks of a
planar partition touch iff their face rings share at least one vertex
node (segment-sharing AND corner-touching both reduce to shared nodes),
so the neighbour relation is a self equi-join on exploded ring-vertex
node keys. The reference's per-row STRtree `touches` probes
(review_meshblock.py:90-97) become one shuffle on the node key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import nodes as N


def block_neighbours(faces: DataFrame, block_col: str = "bb_uid",
                     vertices: str = "vertices") -> DataFrame:
    """(block, nbrs: sorted array of touching block ids). ``faces`` rows
    are polygon rings (the dissolve groups them by ``block_col``)."""
    ring_nodes = faces.select(
        F.col(block_col).alias("block"), F.explode(F.col(vertices)).alias("pt")
    ).select("block", N.node_key(F.col("pt")).alias("node")).distinct()
    a = ring_nodes.select(F.col("block").alias("a"), "node")
    b = ring_nodes.select(F.col("block").alias("b"), "node")
    pairs = a.join(b, "node").filter(F.col("a") != F.col("b")).select("a", "b").distinct()
    return pairs.groupBy(F.col("a").alias("block")).agg(
        F.sort_array(F.collect_set("b")).alias("nbrs")
    )


def compare_neighbours(crn_faces: DataFrame, ngd_faces: DataFrame,
                       block_col: str = "bb_uid",
                       vertices: str = "vertices") -> DataFrame:
    """(block, extra, missing, identical): CRN neighbourhood vs NGD
    neighbourhood per block present in CRN. extra/missing comma-joined
    (review_meshblock.py:115-121), NULL when empty like the reference."""
    crn_n = block_neighbours(crn_faces, block_col, vertices).withColumnRenamed("nbrs", "crn_nbrs")
    ngd_n = block_neighbours(ngd_faces, block_col, vertices).withColumnRenamed("nbrs", "ngd_nbrs")
    j = crn_n.join(ngd_n, "block", "left").select(
        "block",
        F.coalesce("crn_nbrs", F.array().cast("array<long>")).alias("crn_nbrs"),
        F.coalesce("ngd_nbrs", F.array().cast("array<long>")).alias("ngd_nbrs"),
    )
    extra = F.sort_array(F.array_except("crn_nbrs", "ngd_nbrs"))
    missing = F.sort_array(F.array_except("ngd_nbrs", "crn_nbrs"))
    return j.select(
        "block",
        F.when(F.size(extra) > 0, F.array_join(extra, ",")).alias("extra"),
        F.when(F.size(missing) > 0, F.array_join(missing, ",")).alias("missing"),
        ((F.size(extra) == 0) & (F.size(missing) == 0)).alias("identical"),
    )
