"""Meshblock conflation — the engine's flagship query.

Re-expresses /root/reference/src/conflation/conflate_meshblock.py:92-155:
CRN faces are spatially joined to NGD blocks (intersects), each pair gets
``occupation_area = area(crn ∩ ngd) / area(crn)`` (conflate_meshblock.py:
115-117), a pair is a match when occupation >= threshold (default 0.8,
:39,:120), and both sides are annotated:

- NGD block:  valid = has >=1 matching pair (:146); occupation_pct = the
  max int(occupation*100) over its pairs but ONLY when invalid, else -1
  (:126-133,:147-148 — the reference records the pct only for unmatched
  blocks; -1 is its null sentinel).
- CRN face:   valid likewise (:152); bb_uid = the matched NGD id (argmax
  occupation among its valid pairs, :121-124,:154-155), else -1.
- metrics:    invalid counts per side (:168-170).

Spark shape: cell-prefiltered spatial join (operators/spatial_join.py) →
groupBy per side with max/argmax (window W1 of SURVEY.md §2.5) → left
joins back onto the face/block tables. Occupation algebra is pure Column
for rectangles; general convex polygons refine through the numpy clip
kernel.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..config import OCCUPATION_THRESHOLD
from ..functions import geomexpr as GX
from ..functions import geomkernel as GK
from .spatial_join import rect_intersects_join


def conflate_pairs_rect(crn: DataFrame, ngd: DataFrame, res: int) -> DataFrame:
    """(crn_id, ngd_id, occupation_area) for intersecting rectangle pairs.

    crn: crn_id, xmin, ymin, xmax, ymax. ngd: ngd_id, xmin, ymin, xmax, ymax.
    The NGD block set is a dimension table: its cell cover is broadcast.
    """
    a = crn.select(
        F.col("crn_id").alias("a_id"),
        F.col("xmin").alias("axmin"), F.col("ymin").alias("aymin"),
        F.col("xmax").alias("axmax"), F.col("ymax").alias("aymax"),
    )
    b = ngd.select(
        F.col("ngd_id").alias("b_id"),
        F.col("xmin").alias("bxmin"), F.col("ymin").alias("bymin"),
        F.col("xmax").alias("bxmax"), F.col("ymax").alias("bymax"),
    )
    pairs = rect_intersects_join(a, b, res=res, b_hint="broadcast")
    crn_area = (F.col("axmax") - F.col("axmin")) * (F.col("aymax") - F.col("aymin"))
    return pairs.select(
        F.col("a_id").alias("crn_id"),
        F.col("b_id").alias("ngd_id"),
        (F.col("overlap_area") / crn_area).alias("occupation_area"),
    )


def conflate_pairs_convex(crn_polys: DataFrame, ngd_polys: DataFrame, res: int) -> DataFrame:
    """General path: convex polygons as vertex arrays.

    crn_polys: crn_id, vertices. ngd_polys: ngd_id, vertices. Prefilter on
    bbox rect join at ``res``; refine with Sutherland–Hodgman clip
    (functions/geomkernel.py) in an Arrow-batched kernel.
    """
    def with_bbox(df: DataFrame, idc: str, pre: str) -> DataFrame:
        xs = F.transform("vertices", lambda p: F.element_at(p, 1))
        ys = F.transform("vertices", lambda p: F.element_at(p, 2))
        return df.select(
            F.col(idc).alias(f"{pre}_id"),
            F.col("vertices").alias(f"{pre}_verts"),
            F.array_min(xs).alias(f"{pre}xmin"), F.array_min(ys).alias(f"{pre}ymin"),
            F.array_max(xs).alias(f"{pre}xmax"), F.array_max(ys).alias(f"{pre}ymax"),
        )

    a = with_bbox(GX.require_xy(crn_polys, "vertices",
                                "conflate_pairs_convex crn_polys"), "crn_id", "a")
    b = with_bbox(GX.require_xy(ngd_polys, "vertices",
                                "conflate_pairs_convex ngd_polys"), "ngd_id", "b")
    cand = rect_intersects_join(a.withColumnRenamed("a_verts", "averts"),
                                b.withColumnRenamed("b_verts", "bverts"), res=res)

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            occ = np.empty(len(pdf), dtype=np.float64)
            for i, (av, bv) in enumerate(zip(pdf["averts"], pdf["bverts"])):
                subject = GK.vertex_array(av, "conflate_pairs_convex crn_polys.vertices")
                clip = GK.vertex_array(bv, "conflate_pairs_convex ngd_polys.vertices")
                area = GK.polygon_area(subject)
                occ[i] = 0.0 if area <= 0 else GK.convex_clip_area(subject, clip) / area
            out = pd.DataFrame(
                {"crn_id": pdf["a_id"], "ngd_id": pdf["b_id"], "occupation_area": occ}
            )
            yield out

    return cand.mapInPandas(refine, schema="crn_id long, ngd_id long, occupation_area double")


def classify_conflation(
    pairs: DataFrame,
    crn_ids: DataFrame,
    ngd_ids: DataFrame,
    threshold: float = OCCUPATION_THRESHOLD,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Reference classification (conflate_meshblock.py:119-155,168-170).

    pairs: crn_id, ngd_id, occupation_area (one row per intersecting pair).
    crn_ids / ngd_ids: one column each, crn_id / ngd_id (full id sets — a
    face/block with no intersections must still appear with -1 sentinel).

    Returns (crn_out, ngd_out, metrics):
      crn_out: crn_id, valid, occupation_pct, bb_uid
      ngd_out: ngd_id, valid, occupation_pct
      metrics: invalid_crn, invalid_ngd, invalid_total (single row)
    """
    pairs = pairs.withColumn("is_valid", F.col("occupation_area") >= threshold)

    # ---- NGD side: any valid pair? max occupation over all pairs.
    ngd_agg = pairs.groupBy("ngd_id").agg(
        F.max(F.col("is_valid").cast("int")).alias("_v"),
        F.max("occupation_area").alias("_max_occ"),
    )
    ngd_out = (
        ngd_ids.join(ngd_agg, "ngd_id", "left")
        .select(
            "ngd_id",
            F.coalesce(F.col("_v") == 1, F.lit(False)).alias("valid"),
            F.when(F.coalesce(F.col("_v") == 1, F.lit(False)), F.lit(-1))
            .otherwise(F.coalesce(F.floor(F.col("_max_occ") * 100), F.lit(-1)))
            .cast("int")
            .alias("occupation_pct"),
        )
    )

    # ---- CRN side: argmax-occupation valid pair gives the assigned bb_uid.
    w = Window.partitionBy("crn_id").orderBy(
        F.col("occupation_area").desc(), F.col("ngd_id").asc()
    )
    best_valid = (
        pairs.filter("is_valid")
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("crn_id", F.col("ngd_id").alias("_match"))
    )
    crn_agg = pairs.groupBy("crn_id").agg(F.max("occupation_area").alias("_max_occ"))
    crn_out = (
        crn_ids.join(best_valid, "crn_id", "left")
        .join(crn_agg, "crn_id", "left")
        .select(
            "crn_id",
            F.col("_match").isNotNull().alias("valid"),
            F.when(F.col("_match").isNotNull(), F.lit(-1))
            .otherwise(F.coalesce(F.floor(F.col("_max_occ") * 100), F.lit(-1)))
            .cast("int")
            .alias("occupation_pct"),
            F.coalesce(F.col("_match"), F.lit(-1)).alias("bb_uid"),
        )
    )

    metrics = (
        crn_out.select(F.sum((~F.col("valid")).cast("long")).alias("invalid_crn"))
        .crossJoin(ngd_out.select(F.sum((~F.col("valid")).cast("long")).alias("invalid_ngd")))
        .select(
            "invalid_crn",
            "invalid_ngd",
            (F.col("invalid_crn") + F.col("invalid_ngd")).alias("invalid_total"),
        )
    )
    return crn_out, ngd_out, metrics
