"""Node extraction, degree, deadends, crossings — relational graph recovery.

The reference has no graph engine: the arc graph is recovered from
coordinate equality of rounded endpoints (helpers.py:306-342 rounding;
degree via duplicated()/Counter — gen_crossings.py:138-144,
validate_meshblock.py:280-281). Here: explode endpoints → groupBy node
key. Node key = struct<nx long, ny long>, the 5-decimal rounding of each
coordinate scaled to an integer (exact equality, no float-group
hazards). node_key and segment_keys are the only builders of node and
segment identity; every ``node`` column the operators emit has this type.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import COORD_DECIMALS, CROSSING_DEGREE
from ..functions import geomexpr as GX


def node_key(pt: Column) -> Column:
    """Node identity of a point: struct<nx, ny> of the COORD_DECIMALS
    rounding of each coordinate, scaled to long — a fixed 16-byte
    join/aggregate key. ``F.round`` rounds HALF_UP on the shortest
    decimal form of the double (the digits ``repr`` prints), and -0.0
    lands on the same integer as 0.0. The outer round only snaps the
    already-rounded value scaled by 10^N onto its integer (error ~1e-11,
    no knife edge), unlike rounding ``x * 10^N`` directly, whose product
    can land exactly on .5."""
    s = float(10 ** COORD_DECIMALS)
    return F.struct(
        F.round(F.round(F.element_at(pt, 1), COORD_DECIMALS) * s).cast("long").alias("nx"),
        F.round(F.round(F.element_at(pt, 2), COORD_DECIMALS) * s).cast("long").alias("ny"),
    )


def segment_keys(df: DataFrame, id_col: str, vertices: str) -> DataFrame:
    """One row per segment of each vertex list: (id, a, b, _k1, _k2) —
    ``a``/``b`` the segment's endpoints in vertex order, ``_k1 <= _k2``
    their node keys (undirected segment identity)."""
    segs = df.select(F.col(id_col), F.explode(GX.segment_pairs(F.col(vertices))).alias("s"))
    ka, kb = node_key(F.col("s.a")), node_key(F.col("s.b"))
    return segs.select(id_col, F.col("s.a").alias("a"), F.col("s.b").alias("b"),
                       F.least(ka, kb).alias("_k1"), F.greatest(ka, kb).alias("_k2"))


def endpoint_nodes(arcs: DataFrame, id_col: str = "segment_id",
                   vertices: str = "vertices") -> DataFrame:
    """One row per arc endpoint: (id, node, x, y, is_start)."""
    v = F.col(vertices)
    ends = arcs.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(GX.start_point(v).alias("pt"), F.lit(True).alias("is_start")),
                F.struct(GX.end_point(v).alias("pt"), F.lit(False).alias("is_start")),
            )
        ).alias("e"),
    )
    return ends.select(
        id_col,
        node_key(F.col("e.pt")).alias("node"),
        F.element_at(F.col("e.pt"), 1).alias("x"),
        F.element_at(F.col("e.pt"), 2).alias("y"),
        F.col("e.is_start"),
    )


def all_vertex_nodes(arcs: DataFrame, id_col: str = "segment_id",
                     vertices: str = "vertices") -> DataFrame:
    """One row per vertex (the reference's pts_id_lookup substrate,
    validate_topology.py:132-134): (id, node, vertex_idx, n_vertices)."""
    ex = arcs.select(
        F.col(id_col),
        F.size(vertices).alias("n_vertices"),
        F.posexplode(vertices).alias("vertex_idx", "pt"),
    )
    return ex.select(
        id_col, "n_vertices", "vertex_idx", node_key(F.col("pt")).alias("node"),
        F.element_at("pt", 1).alias("x"), F.element_at("pt", 2).alias("y"),
    )


def node_degrees(arcs: DataFrame, id_col: str = "segment_id",
                 vertices: str = "vertices") -> DataFrame:
    """(node, x, y, degree): endpoint-incidence count per node — the
    multiset count of gen_crossings.py:141-144."""
    return (
        endpoint_nodes(arcs, id_col, vertices)
        .groupBy("node")
        .agg(F.count("*").alias("degree"), F.first("x").alias("x"), F.first("y").alias("y"))
    )


def deadends(arcs: DataFrame, id_col: str = "segment_id",
             vertices: str = "vertices") -> DataFrame:
    """Deadend endpoints: nodes appearing exactly once (the
    ~duplicated(keep=False) idiom, validate_meshblock.py:280-281).
    Returns (id, node, x, y) — id = the arc owning the deadend node."""
    ends = endpoint_nodes(arcs, id_col, vertices)
    once = ends.groupBy("node").count().filter("count = 1").select("node")
    return ends.join(once, "node", "left_semi").select(id_col, "node", "x", "y")


def crossings(arcs: DataFrame, min_count: int = CROSSING_DEGREE,
              id_col: str = "segment_id", vertices: str = "vertices") -> DataFrame:
    """Routability crossings: nodes with degree >= 4 (gen_crossings.py:47,
    132-148). Returns (node, x, y, count)."""
    return (
        node_degrees(arcs, id_col, vertices)
        .filter(F.col("degree") >= min_count)
        .select("node", "x", "y", F.col("degree").alias("count"))
    )


def crossings_delta(new: DataFrame, old: DataFrame) -> DataFrame:
    """Full-outer diff of two crossings sets on exact node coordinate with
    Additions/Deletions/Modifications classification
    (gen_crossings.py:104-122). Inputs: (node, count)."""
    n = new.select("node", F.col("count").alias("count_new"))
    o = old.select("node", F.col("count").alias("count_old"))
    j = n.join(o, "node", "full_outer")
    status = (
        F.when(F.col("count_old").isNull(), "Additions")
        .when(F.col("count_new").isNull(), "Deletions")
        .when(F.col("count_new") != F.col("count_old"), "Modifications")
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(
            "node",
            F.coalesce("count_new", F.lit(0)).alias("count"),
            F.coalesce("count_old", F.lit(0)).alias("count_old"),
            "status",
        )
    )
