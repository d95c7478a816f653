"""Topology validations 101–303 — flag-column transformations.

Re-expresses /root/reference/src/topology/validate_topology.py: each
validation returns the set of offending ``segment_id``s; ``write_errors``
pivots them into ``v<code>`` int columns (validate_topology.py:156-172).

| code | name                      | reference            | plan shape |
|------|---------------------------|----------------------|------------|
| 101  | construction_simple       | :328-345 (is_simple) | per-row kernel (scalar pandas UDF) |
| 102  | construction_cluster_tol  | :296-326             | pure Column (min segment length)   |
| 201  | duplication_duplicated    | :347-371 (equals)    | checksum groupBy (no O(n²) equals) |
| 202  | duplication_overlap       | :373-392 (overlaps)  | shared cell self-join + one refine (`_pair_flags`) |
| 301  | connectivity_node_inter   | :235-272             | relational (endpoints × interiors) |
| 302  | connectivity_min_distance | :174-233             | deadend distance join − connected  |
| 303  | connectivity_segmentation | :274-294 (crosses)   | shared cell self-join + one refine (`_pair_flags`) |
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CLUSTER_TOLERANCE, MIN_DISTANCE
from ..functions import geomexpr as GX
from ..functions import geomkernel as GK
from . import nodes as N
from .distance import point_near_arc_pairs
from .guard import join_hint
from .spatial_join import rect_intersects_join


# ---------------------------------------------------------------- 101
def v101_simple(arcs: DataFrame, id_col: str = "segment_id",
                vertices: str = "vertices") -> DataFrame:
    """Arcs must be simple (no self-cross/overlap/touch). Kernel is per
    ROW (no join), so a scalar pandas UDF over the vertex array is the
    whole plan — and it only runs where non-simplicity is POSSIBLE: a
    2-vertex arc with distinct endpoints is simple by construction, and
    in a standardized network that is the overwhelming majority, so the
    Column prefilter keeps ~all rows out of Python entirely."""
    @F.pandas_udf("boolean")
    def _simple(vs: pd.Series) -> pd.Series:
        return pd.Series(
            [GK.polyline_is_simple(GK.vertex_array(v, f"v101_simple {vertices}")) for v in vs])

    v = F.col(vertices)
    may_violate = (F.size(v) > 2) | (F.element_at(v, 1) == F.element_at(v, 2))
    return (
        arcs.filter(may_violate)
        .filter(~_simple(v))
        .select(F.col(id_col).alias("flagged_id"))
    )


# ---------------------------------------------------------------- 102
def v102_cluster_tolerance(arcs: DataFrame, tol: float = CLUSTER_TOLERANCE,
                           id_col: str = "segment_id",
                           vertices: str = "vertices") -> DataFrame:
    """Adjacent vertices must be >= tol apart; only arcs with > 2 vertices
    are checked (validate_topology.py:307)."""
    return arcs.filter(
        (F.size(vertices) > 2) & (GX.min_segment_length(F.col(vertices)) < tol)
    ).select(F.col(id_col).alias("flagged_id"))


# ---------------------------------------------------------------- 201
def v201_duplicated(arcs: DataFrame, id_col: str = "segment_id",
                    vertices: str = "vertices") -> DataFrame:
    """Duplicate geometries via direction-insensitive checksum equi-join —
    replaces the reference's filter-cascade + O(n²) pairwise `equals`
    (validate_topology.py:357-365) with one hash aggregation."""
    # 128-bit struct key, not the md5 hex string: equality-only use, and
    # the narrower key measured ~1.8x on the 2M-arc aggregation
    with_ck = arcs.select(F.col(id_col), GX.geom_checksum128(F.col(vertices)).alias("_ck"))
    dup_cks = with_ck.groupBy("_ck").count().filter("count > 1").select("_ck")
    return with_ck.join(dup_cks, "_ck", "left_semi").select(F.col(id_col).alias("flagged_id"))


# ---------------------------------------------------------------- pairwise prefilter
def _arc_candidate_pairs(arcs: DataFrame, res: int, id_col: str, vertices: str,
                         with_checksum: bool = False,
                         salt_hot: tuple[int, int] | None = None) -> DataFrame:
    """Candidate arc pairs by bbox-cell intersection (a_id < b_id once).

    COLUMN-PRUNED: the cell self-join ships only (id, n_vertices,
    endpoints, bbox) — never the vertex arrays. At dense cells the
    candidate count dwarfs the arc count, so attaching arrays to
    candidates multiplies shuffle bytes by the mean vertex size (the
    round-2 hotspot). Single-segment arcs — the overwhelming majority of
    a noded network — are FULLY described by their endpoint columns, so
    most pairs never need an array at all; `_pair_flags` joins arrays
    back by id only for pairs involving a multi-vertex arc.

    ``with_checksum`` rides the geometry checksum along each side (v202's
    equality exclusion) — one extra column through the join beats two
    whole-candidate-set shuffles joining checksums back by id."""
    arcs = GX.require_xy(arcs, vertices, "validate")
    v = F.col(vertices)
    first, last = F.element_at(v, 1), F.element_at(v, -1)
    cols = [
        F.col(id_col).alias("a_id"),
        F.size(v).alias("anv"),
        F.element_at(first, 1).alias("ax1"), F.element_at(first, 2).alias("ay1"),
        F.element_at(last, 1).alias("ax2"), F.element_at(last, 2).alias("ay2"),
        GX.bbox(v).alias("_bb"),
    ]
    out_cols = ["a_id", "anv", "ax1", "ay1", "ax2", "ay2"]
    if with_checksum:
        cols.append(GX.geom_checksum128(v).alias("ack"))
        out_cols.append("ack")
    slim = arcs.select(*cols).select(
        *out_cols,
        F.col("_bb.xmin").alias("axmin"), F.col("_bb.ymin").alias("aymin"),
        F.col("_bb.xmax").alias("axmax"), F.col("_bb.ymax").alias("aymax"),
    )
    renames = [
        ("a_id", "b_id"), ("anv", "bnv"),
        ("ax1", "bx1"), ("ay1", "by1"), ("ax2", "bx2"), ("ay2", "by2"),
        ("axmin", "bxmin"), ("aymin", "bymin"),
        ("axmax", "bxmax"), ("aymax", "bymax"),
    ] + ([("ack", "bck")] if with_checksum else [])
    other = slim.select(*[F.col(a).alias(b) for a, b in renames])
    pairs = rect_intersects_join(slim, other, res=res, b_hint="shuffle_hash",
                                 salt_hot=salt_hot)
    return pairs.filter(F.col("a_id") < F.col("b_id"))


def _orient_col(ax, ay, bx, by, cx, cy):
    """Column twin of geomkernel._orient — cross((b-a), (c-a))."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _seg_cross_col() -> F.Column:
    """Pure-Column twin of GK.segments_properly_intersect over candidate
    endpoint columns (p = a-segment, q = b-segment). Same EPS discipline,
    same operation order — IEEE-identical to the numpy kernel."""
    eps = GK.EPS
    a1x, a1y, a2x, a2y = F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2")
    b1x, b1y, b2x, b2y = F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2")
    d1 = _orient_col(b1x, b1y, b2x, b2y, a1x, a1y)
    d2 = _orient_col(b1x, b1y, b2x, b2y, a2x, a2y)
    d3 = _orient_col(a1x, a1y, a2x, a2y, b1x, b1y)
    d4 = _orient_col(a1x, a1y, a2x, a2y, b2x, b2y)
    return (
        (((d1 > eps) & (d2 < -eps)) | ((d1 < -eps) & (d2 > eps)))
        & (((d3 > eps) & (d4 < -eps)) | ((d3 < -eps) & (d4 > eps)))
    )


def _seg_overlap_col() -> F.Column:
    """Pure-Column twin of the numpy segments_overlap (tests/twins.py):
    collinear with a positive-length shared section (p = a-segment,
    q = b-segment)."""
    eps = GK.EPS
    a1x, a1y, a2x, a2y = F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2")
    b1x, b1y, b2x, b2y = F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2")
    dx, dy = a2x - a1x, a2y - a1y
    l1 = F.sqrt(dx * dx + dy * dy)
    ok = l1 > eps
    c1 = dx * (b1y - a1y) - dy * (b1x - a1x)
    c2 = dx * (b2y - a1y) - dy * (b2x - a1x)
    col = (F.abs(c1) <= eps * l1) & (F.abs(c2) <= eps * l1)
    l2 = F.when(l1 > 0, l1 * l1).otherwise(F.lit(1.0))
    t1 = ((b1x - a1x) * dx + (b1y - a1y) * dy) / l2
    t2 = ((b2x - a1x) * dx + (b2y - a1y) * dy) / l2
    lo, hi = F.least(t1, t2), F.greatest(t1, t2)
    return ok & col & (F.least(hi, F.lit(1.0)) - F.greatest(lo, F.lit(0.0)) > eps)


# ---------------------------------------------------------------- 202 + 303
# code -> (numpy kernel, its Column twin over single-segment candidates)
_PAIR_TESTS = {
    202: (GK.polylines_overlap, _seg_overlap_col),
    303: (GK.polylines_cross_shapely, _seg_cross_col),
}


def _pair_flags(arcs: DataFrame, codes: list[int], res: int = 10,
                id_col: str = "segment_id", vertices: str = "vertices",
                salt_hot: tuple[int, int] | None = None) -> DataFrame:
    """``(flagged_id, _code)`` for each requested code of ``_PAIR_TESTS``,
    off ONE candidate set and ONE refine stage.

    A code's verdict ``t<code>`` is its Column twin when both arcs are
    single-segment (the bulk of a noded network: zero Python) and null
    when a multi-vertex side needs the numpy kernel. 202 is false on
    checksum-equal pairs: shapely `overlaps` excludes equal geometries
    (validate_topology.py:383-392). Pairs no code can flag are dropped;
    the rest get their multi-vertex sides' arrays joined back by id (once
    per multi-vertex arc, not once per candidate), and one mapInPandas
    decodes each slow pair once and runs every kernel left undecided.
    Fast hits ride through it too, so the cell self-join has exactly one
    consumer (a branch-and-union would recompute it per branch, or force
    a persist barrier; both measured slower)."""
    codes = sorted(codes)
    cand = _arc_candidate_pairs(arcs, res, id_col, vertices,
                                with_checksum=202 in codes, salt_hot=salt_hot)
    both_single = (F.col("anv") == 2) & (F.col("bnv") == 2)
    verdicts = []
    for c in codes:
        t = F.when(both_single, _PAIR_TESTS[c][1]())
        if c == 202:
            t = F.when(F.col("ack") != F.col("bck"), t).otherwise(False)
        verdicts.append(t.alias(f"t{c}"))
    flags = [f"t{c}" for c in codes]
    v = F.col(vertices)
    multi = arcs.filter(F.size(v) > 2)
    reduced = (
        cand.select("a_id", "b_id", "ax1", "ay1", "ax2", "ay2",
                    "bx1", "by1", "bx2", "by2", *verdicts)
        .filter(reduce(operator.or_, [F.col(t).isNull() | F.col(t) for t in flags]))
        .join(multi.select(F.col(id_col).alias("a_id"), v.alias("av")), "a_id", "left")
        .join(multi.select(F.col(id_col).alias("b_id"), v.alias("bv")), "b_id", "left")
        # a single-segment side's array is rebuilt from its endpoints
        .select("a_id", "b_id", *flags, *[
            F.coalesce(f"{s}v", F.array(F.array(f"{s}x1", f"{s}y1"),
                                        F.array(f"{s}x2", f"{s}y2"))).alias(f"{s}verts")
            for s in "ab"])
    )
    # plain functions only: the closure is pickled, and Columns do not pickle
    kernels = [_PAIR_TESTS[c][0] for c in codes]
    what = f"v{'/v'.join(map(str, codes))} {vertices}"

    def refine(it):
        for pdf in it:
            # fast verdicts in bulk; loop only the rows a kernel must decide
            hit = [pdf[t].eq(True).to_numpy(dtype=bool, copy=True) for t in flags]
            need = pdf[flags].isna().to_numpy()
            rows = np.flatnonzero(need.any(axis=1))
            slow = pdf.iloc[rows]
            for i, todo, av, bv in zip(rows, need[rows], slow["averts"], slow["bverts"]):
                a, b = GK.vertex_array(av, what), GK.vertex_array(bv, what)
                for h, kernel, run in zip(hit, kernels, todo):
                    if run:
                        h[i] = kernel(a, b)
            aid, bid = pdf["a_id"].to_numpy(), pdf["b_id"].to_numpy()
            out = pd.DataFrame({
                "flagged_id": np.concatenate([np.concatenate([aid[h], bid[h]]) for h in hit]),
                "_code": np.repeat(codes, [2 * int(h.sum()) for h in hit]),
            })
            if len(out):
                yield out.drop_duplicates()

    return reduced.mapInPandas(refine, schema="flagged_id string, _code int").distinct()


def v202_overlap(arcs: DataFrame, res: int = 10, id_col: str = "segment_id",
                 vertices: str = "vertices",
                 salt_hot: tuple[int, int] | None = None) -> DataFrame:
    """Arcs must not overlap (share a collinear positive-length section,
    equal geometries excepted) — validate_topology.py:373-392."""
    return _pair_flags(arcs, [202], res, id_col, vertices, salt_hot).select("flagged_id")


def v303_crosses(arcs: DataFrame, res: int = 10, id_col: str = "segment_id",
                 vertices: str = "vertices",
                 salt_hot: tuple[int, int] | None = None) -> DataFrame:
    """Arcs must not cross (must be segmented at intersections) —
    validate_topology.py:274-294. For single-segment pairs shapely
    `crosses` reduces to the proper-crossing test."""
    return _pair_flags(arcs, [303], res, id_col, vertices, salt_hot).select("flagged_id")


# ---------------------------------------------------------------- 301
def v301_node_intersection(arcs: DataFrame, id_col: str = "segment_id",
                           vertices: str = "vertices") -> DataFrame:
    """Arcs must only connect at endpoints: an endpoint node coinciding
    with an interior vertex (of a >2-vertex arc), where the node is
    referenced by more than one arc, flags every arc whose INTERIOR holds
    that point (validate_topology.py:235-272)."""
    allv = N.all_vertex_nodes(arcs, id_col, vertices)
    endpoints = allv.filter((F.col("vertex_idx") == 0) | (F.col("vertex_idx") == F.col("n_vertices") - 1))
    interiors = allv.filter(
        (F.col("n_vertices") > 2)
        & (F.col("vertex_idx") > 0)
        & (F.col("vertex_idx") < F.col("n_vertices") - 1)
    )
    # node referenced by > 1 arc (any vertex reference — pts_id_lookup)
    multi_ref = (
        allv.select("node", id_col).distinct().groupBy("node").count().filter("count > 1").select("node")
    )
    invalid_pts = (
        endpoints.select("node").distinct()
        .join(interiors.select("node").distinct(), "node", "left_semi")
        .join(multi_ref, "node", "left_semi")
    )
    return (
        interiors.join(invalid_pts, "node", "left_semi")
        .select(F.col(id_col).alias("flagged_id"))
        .distinct()
    )


# ---------------------------------------------------------------- 302
# The one persisted intermediate a v302 run leaves behind. Kept so a
# REPEATED v302 (demo trials, re-validation sweeps) releases the prior
# run's cached deadend blocks instead of accumulating them in executor
# storage for the session lifetime; v302_release() frees the last one.
_V302_PERSISTED: list[DataFrame] = []


def v302_release() -> None:
    """Unpersist the deadend intermediate of the most recent v302 call
    (safe to call any time after its returned plan is materialized)."""
    while _V302_PERSISTED:
        try:
            _V302_PERSISTED.pop().unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass


# validate_topology's shared arc cache, released the same way (tests
# assert compositions leave ZERO lingering cached blocks — r5 #7)
_VT_PERSISTED: list[DataFrame] = []


def validate_release() -> None:
    """Unpersist everything the last validate_topology/v302 run cached.
    Call after the flagged output (and anything derived) is
    materialized; compositions should wrap in try/finally."""
    while _VT_PERSISTED:
        try:
            _VT_PERSISTED.pop().unpersist(blocking=False)
        except Exception:  # session already stopped — nothing to free
            pass
    v302_release()


def v302_min_distance(arcs: DataFrame, min_dist: float = MIN_DISTANCE,
                      id_col: str = "segment_id",
                      vertices: str = "vertices") -> DataFrame:
    """Deadend arcs must be >= min_dist from arcs they are not connected
    to (validate_topology.py:174-233): for each deadend node, find arcs
    within min_dist, subtract arcs sharing ANY vertex-node with the
    deadend arc's endpoints, flag the deadend arc + disconnected arcs."""
    # persisted: feeds BOTH the distance join (points) and the dead-arc
    # restriction of the connectivity join below — without the persist
    # the second consumer would re-run the whole deadends lineage
    # (explode + node-count + semi-join) from scratch. The PREVIOUS
    # call's cached blocks are released here (the return value is lazy,
    # so the current ones must outlive this function).
    v302_release()
    dead = (N.deadends(arcs, id_col, vertices)
            .withColumnRenamed(id_col, "src_id").persist())
    _V302_PERSISTED.append(dead)
    # bound-enforced broadcast decision: deadends are the validation's
    # subject and a few % of a real network, so both the distance join's
    # point side and the connectivity join's endpoint side usually fit a
    # broadcast — then the 100-TB arc side is NEVER shuffled in either
    # join. The count materializes the persisted deadends once (work
    # every consumer below needs anyway); a pathological all-deadend
    # network gets shuffled hash joins instead.
    h = join_hint(dead)
    # p_id = src_id ALONE — the deadend node key is never consumed past
    # this join, so carrying it (16 bytes on every k-ring-exploded
    # candidate row) would only widen the join shuffle. The two
    # endpoints of a doubly-deadend arc become two point rows with the
    # same p_id; that's fine — existence is all 302 needs, and the
    # distinct below collapses pair duplicates anyway (a min-distance
    # aggregation would be a wasted extra shuffle).
    hits = point_near_arc_pairs(
        dead.select(F.col("src_id").alias("p_id"), "x", "y").hint(h),
        arcs, min_dist, id_col=id_col, vertices=vertices,
    ).select(F.col("p_id").alias("src_id"), F.col(id_col).alias("near_id"))
    # connected = arcs referencing either endpoint NODE of the source arc
    # (pts_id_lookup over ALL vertices — validate_topology.py:211-215).
    # Only DEADEND arcs can be src — restricting the endpoint side to
    # them up front shrinks this node join by the deadend fraction
    # (a few % of arcs in a real road network) instead of joining every
    # arc's endpoints against every vertex node.
    dead_ids = dead.select(F.col("src_id").alias(id_col)).distinct()
    src_end_nodes = (
        N.endpoint_nodes(arcs.join(dead_ids, id_col, "left_semi"),
                         id_col, vertices)
        .select(F.col(id_col).alias("src_id"), "node")
    )
    # the exploded all-vertex side is NOT pre-distinct'd: (node, near_id)
    # duplicates only arise from an arc revisiting a node (rare in noded
    # data), and the pre-distinct was a full extra exchange of the widest
    # exploded set — `connected` dedups the (much smaller) join output
    # anyway. When the deadend side broadcasts (``h`` above), the vertex
    # explode stays entirely map-side — no vertex row is ever shuffled.
    allv = N.all_vertex_nodes(arcs, id_col, vertices).select(
        "node", F.col(id_col).alias("near_id")
    )
    connected = (src_end_nodes.hint(h).join(allv, "node")
                 .select("src_id", "near_id").distinct())
    # per-arc SET subtraction (validate_topology.py:219-221): an arc with
    # BOTH endpoints deadends near the same arc yields the pair twice in
    # hits but once in connected — a multiset exceptAll would leak one
    # occurrence, so distinct first, then anti-join.
    disconnected = (
        hits.select("src_id", "near_id")
        .filter(F.col("src_id") != F.col("near_id"))
        .distinct()
        .join(connected, ["src_id", "near_id"], "left_anti")
    )
    # explode, not union-of-selects — one consumer of the whole distance-
    # join + anti-join pipeline instead of two full recomputes
    return (
        disconnected.select(F.explode(F.array("src_id", "near_id")).alias("flagged_id"))
        .distinct()
    )


# ---------------------------------------------------------------- driver
VALIDATIONS = {
    303: v303_crosses,
    101: v101_simple,
    102: v102_cluster_tolerance,
    201: v201_duplicated,
    202: v202_overlap,
    301: v301_node_intersection,
    302: v302_min_distance,
}


def validate_topology(arcs: DataFrame, codes: list[int] | None = None) -> DataFrame:
    """Run validations and pivot flag sets into v<code> int columns
    (validate_topology.py:156-172). ``arcs`` should be standardized first."""
    # shared normalized projection across 7 validations; registered so
    # validate_release() can drop it once the flagged output is consumed
    validate_release()
    arcs = arcs.cache()
    _VT_PERSISTED.append(arcs)
    codes = codes or sorted(VALIDATIONS)
    # 202 and 303 share one candidate set and one refine stage
    pair_codes = [c for c in codes if c in _PAIR_TESTS]
    parts = [_pair_flags(arcs, pair_codes)] if pair_codes else []
    parts += [VALIDATIONS[c](arcs).select("flagged_id", F.lit(c).alias("_code"))
              for c in codes if c not in _PAIR_TESTS]
    # ONE pivot join, not 7 chained left-joins: flag sets are tiny, so
    # union them with their code, pivot to v<code> columns in one
    # aggregation, and join arcs once — the chained form stacked 7
    # sort-merge joins of the full arc set into a single action
    pivoted = reduce(DataFrame.unionByName, parts).groupBy(
        F.col("flagged_id").alias("segment_id")).agg(
        *[F.max(F.when(F.col("_code") == c, 1).otherwise(0)).alias(f"v{c}")
          for c in codes]
    )
    return arcs.join(pivoted, "segment_id", "left").fillna(
        {f"v{c}": 0 for c in codes})
