"""Arc → meshblock → NGD linkage (FK chase).

Re-expresses /root/reference/src/linkage/link_arcs.py:85-131: each arc is
assigned the face(s) covering it (covered_by face boundary, else within
face), then linked bb_uids, then the NGD arc ids referencing those blocks
(both sides bb_uid_l/bb_uid_r), exported as comma-joined strings.

The reference does this with per-row STRtree probes + dict lookups; here
it is two joins (segment-key coverage; broadcastable FK tables) and a
collect_set/array_join aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import nodes as N


def _arc_face_coverage(arcs: DataFrame, faces: DataFrame,
                       id_col: str = "segment_id",
                       vertices: str = "vertices") -> DataFrame:
    """(arc id, face_id): faces whose ring contains EVERY segment of the
    arc (covered_by the face boundary — link_arcs.py:98-100)."""
    ring = faces.select(
        "face_id", F.concat(F.col("vertices"), F.slice("vertices", 1, 1)).alias("rv")
    )
    fsegs = N.segment_keys(ring, "face_id", "rv").select("face_id", "_k1", "_k2")
    asegs = N.segment_keys(arcs, id_col, vertices).select(id_col, "_k1", "_k2")
    n_arc_segs = asegs.groupBy(id_col).agg(F.count("*").alias("_n"))
    matched = (
        asegs.join(fsegs, ["_k1", "_k2"])
        .groupBy(id_col, "face_id")
        .agg(F.count("*").alias("_m"))
        .join(n_arc_segs, id_col)
        .filter(F.col("_m") == F.col("_n"))
        .select(id_col, "face_id")
    )
    return matched


def link_arcs(arcs: DataFrame, faces: DataFrame, ngd_arcs: DataFrame,
              id_col: str = "segment_id", vertices: str = "vertices") -> DataFrame:
    """Returns arcs + bb_uid_linked + ngd_uid_linked comma-joined strings.

    faces must carry a ``bb_uid`` column (from conflation). ngd_arcs:
    (ngd_uid, bb_uid_l, bb_uid_r) — conform_deltas_src.py:148-152.
    """
    cov = _arc_face_coverage(arcs, faces, id_col, vertices)
    arc_faces = cov.join(faces.select("face_id", "bb_uid"), "face_id")

    # both-sides FK stack (link_arcs.py:106-111)
    both = (
        ngd_arcs.select(F.col("bb_uid_l").alias("bb_uid"), "ngd_uid")
        .unionByName(ngd_arcs.select(F.col("bb_uid_r").alias("bb_uid"), "ngd_uid"))
    )
    bb_to_ngd = both.groupBy("bb_uid").agg(F.collect_set("ngd_uid").alias("_ngd_ids"))

    linked = (
        arc_faces.join(F.broadcast(bb_to_ngd), "bb_uid", "left")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_set("bb_uid")).alias("_bbs"),
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("_ngd_ids")))).alias("_ngds"),
        )
    )
    out = arcs.join(linked, id_col, "left").select(
        *arcs.columns,
        F.coalesce(F.array_join("_bbs", ","), F.lit("-1")).alias("bb_uid_linked"),
        F.when(F.size(F.coalesce(F.col("_ngds"), F.array())) > 0, F.array_join("_ngds", ","))
        .otherwise(F.lit("-1"))
        .alias("ngd_uid_linked"),
    )
    return out
