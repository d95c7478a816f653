"""Snap-to-network matching — node-to-node snapping + endpoint rewrite.

Re-expresses helpers.snap_nodes (/root/reference/src/helpers.py:345-405):
non-NRN arc endpoints that don't already coincide with an NRN node snap to
an NRN node within prox (0.1; 0.01 for boundary-arc endpoints). The
reference takes the FIRST STRtree hit (helpers.py:395, insertion-order
dependent); we pin determinism by taking the NEAREST hit with
(distance, node-key) tie-break — SURVEY.md §7 hard parts (b).

Plan: endpoints explode → anti-join on exact rounded node key (already-
integrated endpoints drop out) → k-ring distance join to NRN nodes →
window rank 1 → node map joined back; endpoint rewrite is a Column
expression over the vertex array. Two shuffles, all keys bigint or
node-key structs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import SNAP_PROX, SNAP_PROX_BOUNDARY
from ..functions import geomexpr as GX
from . import nodes as N
from .spatial_join import distance_join


def nrn_flag(df: DataFrame):
    """NRN arc = 32-hex original id AND road (helpers.py:359)."""
    return (F.length("segment_id_orig") == 32) & (F.col("segment_type") == 1)


def build_snap_map(arcs: DataFrame, prox: float = SNAP_PROX,
                   prox_boundary: float = SNAP_PROX_BOUNDARY) -> DataFrame:
    """(from_node, to_x, to_y): snap map for unintegrated non-NRN endpoints."""
    nrn_nodes = (
        N.endpoint_nodes(arcs.filter(nrn_flag(arcs)))
        .select("node", "x", "y")
        .dropDuplicates(["node"])
    )
    ngd_ends = N.endpoint_nodes(arcs.filter(~nrn_flag(arcs)))
    # boundary nodes use the tighter threshold (helpers.py:364-365,376)
    boundary_nodes = (
        N.endpoint_nodes(arcs.filter(~nrn_flag(arcs) & (F.col("boundary") == 1)))
        .select("node").distinct().withColumn("_is_boundary", F.lit(True))
    )
    # snappable = ngd endpoint NOT coinciding with any NRN node (helpers.py:368)
    snappable = (
        ngd_ends.join(nrn_nodes.select("node"), "node", "left_anti")
        .select("node", "x", "y").dropDuplicates(["node"])
        .join(boundary_nodes, "node", "left")
        .withColumn("_prox", F.when(F.col("_is_boundary"), prox_boundary).otherwise(prox))
    )
    cand = distance_join(
        snappable.select(F.col("node").alias("l_id"), F.col("x").alias("lx"),
                         F.col("y").alias("ly"), "_prox"),
        nrn_nodes.select(F.col("node").alias("r_id"), F.col("x").alias("rx"),
                         F.col("y").alias("ry")),
        radius=max(prox, prox_boundary),
    ).filter(F.col("dist") <= F.col("_prox"))
    w = Window.partitionBy("l_id").orderBy(F.col("dist").asc(), F.col("r_id").asc())
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select(F.col("l_id").alias("from_node"), F.col("rx").alias("to_x"),
                F.col("ry").alias("to_y"))
    )


def apply_node_map(arcs: DataFrame, node_map: DataFrame,
                   vertices: str = "vertices") -> DataFrame:
    """Rewrite arc endpoints per (from_node → to_x, to_y) — the
    update_nodes rewrite (helpers.py:642-662) as Column expressions.
    node_map is broadcast (it is bounded by the unintegrated-node count)."""
    v = F.col(vertices)
    start_key = N.node_key(GX.start_point(v))
    end_key = N.node_key(GX.end_point(v))
    sm = F.broadcast(
        node_map.select(
            F.col("from_node"),
            F.array(F.col("to_x"), F.col("to_y")).alias("_to_pt"),
        )
    )
    out = (
        arcs.withColumn("_sk", start_key)
        .withColumn("_ek", end_key)
        .join(sm.withColumnRenamed("from_node", "_sk").withColumnRenamed("_to_pt", "_s_to"),
              "_sk", "left")
        .join(sm.withColumnRenamed("from_node", "_ek").withColumnRenamed("_to_pt", "_e_to"),
              "_ek", "left")
    )
    n = F.size(v)
    rewritten = F.concat(
        F.array(F.coalesce(F.col("_s_to"), GX.start_point(v))),
        F.slice(v, 2, F.greatest(n - 2, F.lit(0))),
        F.array(F.coalesce(F.col("_e_to"), GX.end_point(v))),
    )
    return (
        out.withColumn(
            vertices,
            F.when(F.col("_s_to").isNotNull() | F.col("_e_to").isNotNull(), rewritten)
            .otherwise(v),
        )
        .drop("_sk", "_ek", "_s_to", "_e_to")
    )


def snap_nodes(arcs: DataFrame, prox: float = SNAP_PROX,
               prox_boundary: float = SNAP_PROX_BOUNDARY) -> DataFrame:
    """Full snap-to-network pass (helpers.py:345-405). Only non-NRN arcs
    are rewritten (NRN arcs own the target nodes)."""
    node_map = build_snap_map(arcs, prox, prox_boundary)
    is_nrn = nrn_flag(arcs)
    nrn_part = arcs.filter(is_nrn)
    ngd_part = apply_node_map(arcs.filter(~is_nrn), node_map)
    return nrn_part.unionByName(ngd_part)
