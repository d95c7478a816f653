"""Suggested-snapping dataset generation (meshblock connectivity stage).

Re-expresses validate_meshblock._gen_suggested_snapping (:129-206): for
every unintegrated BO node (deadend BO endpoint not touching the road
network):

- NODE suggestion: exactly ONE road node within 20 m → snapping line
  from the BO node to that road node (:137-169);
- EDGE suggestion: exactly ONE road geometry within 20 m AND zero road
  nodes within 20 m → snapping line from the BO node to the closest
  point on that road (projection, :171-206).

These are outputs for human review (valid=0); enforce_suggested_snapping
(operators/segment.py) applies approved rows. Distributed shape: the two
distance joins reuse the k-ring node join and the point-to-arc join; the
projection point is the only kernel step (line interpolate).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geomexpr as GX
from ..functions import geomkernel as GK
from . import nodes as N
from .distance import point_to_arc_distance_join
from .spatial_join import distance_join

SUGGEST_RADIUS = 20.0  # validate_meshblock.py:113-114

# persisted intermediates of the most recent suggested_snapping call,
# released on the next call or via snapsuggest_release() (cache-hygiene
# contract: compositions must be able to leave zero cached blocks)
_SS_PERSISTED: list[DataFrame] = []


def snapsuggest_release() -> None:
    """Unpersist the last suggested_snapping call's intermediates (safe
    once its returned suggestions are materialized)."""
    while _SS_PERSISTED:
        try:
            _SS_PERSISTED.pop().unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass


def unintegrated_bo_nodes(arcs: DataFrame, id_col: str = "segment_id",
                          vertices: str = "vertices") -> DataFrame:
    """Deadend BO endpoints (validate_meshblock.py:279-284): BO endpoint
    nodes that are deadends of the FULL network."""
    dead_nodes = N.deadends(arcs, id_col, vertices).select("node").distinct()
    bo_nodes = (
        N.endpoint_nodes(arcs.filter(F.col("segment_type") == 2), id_col, vertices)
        .select("node", "x", "y").distinct()
    )
    return bo_nodes.join(dead_nodes, "node", "left_semi")


def suggested_snapping(arcs: DataFrame, radius: float = SUGGEST_RADIUS,
                       id_col: str = "segment_id",
                       vertices: str = "vertices") -> DataFrame:
    """(snapping_type, from_x, from_y, to_x, to_y, valid=0)."""
    arcs = GX.require_xy(arcs, vertices, "suggested_snapping")
    roads = arcs.filter(F.col("segment_type") == 1)
    # persisted: feeds both the node-hit and the road-hit distance joins;
    # registered for snapsuggest_release() (cache-hygiene contract)
    snapsuggest_release()
    bo = unintegrated_bo_nodes(arcs, id_col, vertices).persist()
    _SS_PERSISTED.append(bo)

    road_nodes = (
        N.endpoint_nodes(roads, id_col, vertices).select("node", "x", "y").distinct()
    )
    # node hits within radius
    node_hits = distance_join(
        bo.select(F.col("node").alias("l_id"), F.col("x").alias("lx"),
                  F.col("y").alias("ly")),
        road_nodes.select(F.col("node").alias("r_id"), F.col("x").alias("rx"),
                          F.col("y").alias("ry")),
        radius,
    )
    # persisted: BOTH output branches consume this frame (node
    # suggestions directly; edge suggestions anti-join it) — without a
    # materialization point the whole BO + distance-join lineage would
    # recompute once per branch. One row per unintegrated BO node: tiny.
    node_hit_counts = node_hits.groupBy("l_id").agg(
        F.count("*").alias("n_nodes"),
        F.first("lx").alias("from_x"), F.first("ly").alias("from_y"),
        F.min(F.struct("dist", "r_id", "rx", "ry")).alias("best"),
    ).persist()
    _SS_PERSISTED.append(node_hit_counts)
    node_suggestions = node_hit_counts.filter("n_nodes = 1").select(
        F.lit("node").alias("snapping_type"),
        "from_x", "from_y",
        F.col("best.rx").alias("to_x"), F.col("best.ry").alias("to_y"),
        F.lit(0).alias("valid"),
    )

    # edge candidates: roads within radius of the BO node
    road_hits = point_to_arc_distance_join(
        bo.select(F.col("node").alias("p_id"), "x", "y"), roads, radius,
        id_col=id_col, vertices=vertices,
    )
    road_hit_counts = road_hits.groupBy("p_id").agg(
        F.count("*").alias("n_roads"),
        F.first("x").alias("from_x"), F.first("y").alias("from_y"),
        F.min(F.struct("dist", F.col(id_col))).alias("best"),
    )
    edge_nodes = road_hit_counts.filter("n_roads = 1").join(
        node_hit_counts.select(F.col("l_id").alias("p_id")), "p_id", "left_anti"
    )
    # projection point on the single candidate road (kernel)
    with_verts = edge_nodes.select(
        "p_id", "from_x", "from_y", F.col(f"best.{id_col}").alias("road_id")
    ).join(roads.select(F.col(id_col).alias("road_id"), vertices), "road_id")

    def project(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for fx, fy, vs in zip(pdf["from_x"], pdf["from_y"], pdf[vertices]):
                line = GK.vertex_array(vs, f"suggested_snapping {vertices}")
                m = GK.line_locate(line, float(fx), float(fy))
                to = GK.line_interpolate(line, m)
                rows.append(("edge", float(fx), float(fy), float(to[0]), float(to[1]), 0))
            yield pd.DataFrame(rows, columns=["snapping_type", "from_x", "from_y",
                                              "to_x", "to_y", "valid"])

    edge_suggestions = with_verts.mapInPandas(
        project,
        schema="snapping_type string, from_x double, from_y double, to_x double, to_y double, valid int",
    )
    return node_suggestions.unionByName(edge_suggestions)
