"""Line segmentation — split polylines at points (linear referencing).

Re-expresses helpers.split_lines (/root/reference/src/helpers.py:408-440):
cut points are linearly referenced onto the line, merged with the
vertices by measure, and pieces are emitted between consecutive cuts.
Also the composition used by enforce_suggested_snapping
(helpers.py:110-178): node-type snaps rewrite BO endpoints; edge-type
snaps split the road at the projected point.

Plan: cuts join their line (cell prefilter not needed — the join is an
id equi-join), grouped kernel computes measures + pieces per line, output
explodes pieces with a stable piece index.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geomkernel as GK

PIECE_SCHEMA = "line_id string, piece_idx int, vertices array<array<double>>, length double"


def split_lines_at_points(lines: DataFrame, cuts: DataFrame,
                          id_col: str = "line_id",
                          vertices: str = "vertices") -> DataFrame:
    """lines: (line_id, vertices). cuts: (line_id, x, y) — the points at
    which each line splits (projected onto the line first, matching
    shapely ``project``/``interpolate`` semantics). Lines without cuts
    pass through as a single piece. Output one row per piece."""
    cut_agg = cuts.groupBy(id_col).agg(
        F.collect_list(F.array("x", "y")).alias("_cuts")
    )
    joined = lines.join(cut_agg, id_col, "left")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, verts, lens = [], [], [], []
            for lid, vs, cs in zip(pdf[id_col], pdf[vertices], pdf["_cuts"]):
                line = GK.vertex_array(vs, f"split_lines_at_points {vertices}")
                if cs is None or (hasattr(cs, "__len__") and len(cs) == 0):
                    pieces = [line]
                else:
                    dists = [GK.line_locate(line, float(c[0]), float(c[1])) for c in cs]
                    pieces = GK.split_line_at_distances(line, dists)
                for i, p in enumerate(pieces):
                    ids.append(lid)
                    idxs.append(i)
                    verts.append(p.tolist())
                    lens.append(float(GK.cum_lengths(p)[-1]))
            yield pd.DataFrame(
                {"line_id": ids, "piece_idx": idxs, "vertices": verts, "length": lens}
            )

    return joined.mapInPandas(run, schema=PIECE_SCHEMA)


def enforce_suggested_snapping(arcs: DataFrame, snapping: DataFrame) -> DataFrame:
    """helpers.enforce_suggested_snapping (helpers.py:110-178):

    snapping: (snapping_type in {node, edge}, from_x, from_y, to_x, to_y)
    — approved suggestion lines from the meshblock stage. BO endpoints
    equal to a from-point are replaced with the to-point (both types);
    edge-type to-points then split the nearest road.
    Returns the updated arc table (roads split rows carry piece suffixes
    on segment_id).
    """
    from ..config import KNN_MAX_DISTANCE
    from . import nodes as N
    from .snap import apply_node_map

    node_map = snapping.select(
        N.node_key(F.array("from_x", "from_y")).alias("from_node"),
        F.col("to_x"), F.col("to_y"),
    )
    bos = apply_node_map(arcs.filter(F.col("segment_type") == 2), node_map)
    roads = arcs.filter(F.col("segment_type") == 1)
    others = arcs.filter(~F.col("segment_type").isin(1, 2))

    edge_pts = snapping.filter(F.col("snapping_type") == "edge").select(
        F.monotonically_increasing_id().alias("l_id"),
        F.col("to_x").alias("lx"), F.col("to_y").alias("ly"),
    )
    if edge_pts.isEmpty():
        return roads.unionByName(bos).unionByName(others, allowMissingColumns=True)

    # nearest road within the reference's 0.01 snap radius (helpers.py:160-162)
    road_pts = roads.select(F.col("segment_id").alias("r_id"), "vertices")
    # kNN against road GEOMETRY: reuse point_to_arc distance join + rank
    from pyspark.sql.window import Window

    from .distance import point_to_arc_distance_join

    cand = point_to_arc_distance_join(
        edge_pts.select(F.col("l_id").alias("p_id"), F.col("lx").alias("x"),
                        F.col("ly").alias("y")),
        roads, KNN_MAX_DISTANCE,
    )
    w = Window.partitionBy("p_id").orderBy(F.col("dist").asc(), F.col("segment_id").asc())
    assigned = cand.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")

    cuts = assigned.select(
        F.col("segment_id").alias("line_id"), F.col("x"), F.col("y")
    )
    to_split = roads.join(cuts.select("line_id").distinct(),
                          roads.segment_id == F.col("line_id"), "left_semi")
    untouched = roads.join(cuts.select("line_id").distinct(),
                           roads.segment_id == F.col("line_id"), "left_anti")
    pieces = split_lines_at_points(
        to_split.select(F.col("segment_id").alias("line_id"), "vertices"), cuts
    )
    split_rows = (
        to_split.withColumnRenamed("vertices", "_old")
        .join(pieces, to_split.segment_id == pieces.line_id)
        .withColumn("segment_id", F.concat_ws("#", "segment_id", "piece_idx"))
        .drop("line_id", "piece_idx", "_old", "length")
    )
    roads_out = untouched.unionByName(split_rows.select(*untouched.columns))
    return roads_out.unionByName(bos).unionByName(others, allowMissingColumns=True)
