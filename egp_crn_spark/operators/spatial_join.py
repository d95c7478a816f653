"""Distributed spatial joins: Morton-cell equi-join prefilter + exact refine.

Replaces the reference's per-row STRtree probes (its only join strategy —
/root/reference/src/topology/validate_topology.py:194,285,384;
src/conflation/conflate_meshblock.py:103-112) with the two-tier pattern
every operator here shares:

  1. PREFILTER — a plain equi-join on Morton cell ids (pure Column bit
     arithmetic, functions/cells.py). Catalyst/AQE choose the physical
     join, handle skew splitting, and push predicates; at 100 TB this is
     the only stage that shuffles, and it shuffles on a bigint.
  2. REFINE — the exact geometric predicate. Pure Column where algebra
     allows (rectangles, distances); Arrow-batched numpy kernels
     (functions/geomkernel.py) where it doesn't (general polygons).

Duplicate candidate pairs from multi-cell overlap are eliminated with the
reference-point technique (keep a pair only in the cell containing the
intersection's lower-left corner) — no dropDuplicates shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cells as C
from ..functions import geomkernel as GK
from .guard import collect_bounded


# ---------------------------------------------------------------------------
# rectangle x rectangle intersects-join (pure Column end to end)
# ---------------------------------------------------------------------------
def _rect_cover_cells(df: DataFrame, prefix: str, res: int) -> DataFrame:
    """Explode each rect to the Morton cells its bbox covers at ``res``.

    Inclusive upper bound so a rect touching a cell line also lands in the
    neighbouring cell — `intersects` must count boundary touches (shapely
    semantics at conflate_meshblock.py:105).
    """
    def idx(col: str) -> Column:
        return C.idx_of(F.col(col), res)

    return (
        df.withColumn("_ix", F.explode(F.sequence(idx(f"{prefix}xmin"), idx(f"{prefix}xmax"))))
        .withColumn("_iy", F.explode(F.sequence(idx(f"{prefix}ymin"), idx(f"{prefix}ymax"))))
        .withColumn("_cell", C.cell_encode(F.col("_ix"), F.col("_iy"), res))
        .drop("_ix", "_iy")
    )


def rect_intersects_join(
    a: DataFrame,
    b: DataFrame,
    res: int,
    b_hint: str | None = None,
    salt_hot: tuple[int, int] | None = None,
) -> DataFrame:
    """All (a, b) pairs whose axis-aligned rects intersect (touch counts).

    ``a`` columns: a_id, axmin, aymin, axmax, aymax (same for b with b_).
    Output adds ``overlap_area``. One row per pair (reference-point dedup).

    ``b_hint`` is a join strategy hint for the b-side cell cover, in
    ``guard.join_hint``'s vocabulary: ``"broadcast"`` for a dimension
    table, or ``"shuffle_hash"``, which skips BOTH sort passes of the
    default sort-merge join — measured 1.3x on the 2M-arc pair-candidates
    self-join, where the sorts were ~1/3 of the wall. Shuffle-hash is
    safe there because the per-partition build side is one cell range
    of cover rows (bounded by shuffle-partition sizing, and AQE's
    skew-join optimization also splits skewed SHJ partitions); callers
    with giant unsalted hot cells should prefer the default
    spill-friendly SMJ (``None``).

    ``salt_hot=(threshold, n_salt)``: explicit skew handling for dense
    'urban' cells (BASELINE.json north_star). Cells measured hotter than
    ``threshold`` cover-rows are salted — the a-side gets
    pmod(xxhash64(a_id), n_salt), the b-side REPLICATES its hot rows to
    every salt — so one hot cell's candidate mass spreads over n_salt
    join tasks instead of one. Pair semantics are unchanged: every pair
    still meets exactly once (in one (cell, salt)). Cold cells pay
    nothing (salt 0 both sides). The hot set is MEASURED (one cheap
    pre-agg pass), never guessed — operators/skew.py discipline.

    The threshold applies to A-SIDE cover rows only (for the self-join
    uses here the two covers are identical, so the measurement is
    symmetric): for asymmetric inputs pass the skewed side as ``a`` — a
    cell hot only on the b-side is not salted."""
    ac = _rect_cover_cells(a, "a", res)
    bc = _rect_cover_cells(b, "b", res)
    if b_hint is not None:
        bc = bc.hint(b_hint)
    if salt_hot is not None:
        threshold, n_salt = salt_hot
        from .skew import hot_keys

        hot = F.broadcast(
            hot_keys(ac, "_cell", threshold).withColumn("_hot", F.lit(1))
        )
        ac = ac.join(hot, "_cell", "left").withColumn(
            "_salt",
            F.when(F.col("_hot").isNotNull(),
                   F.pmod(F.xxhash64("a_id"), F.lit(n_salt))).otherwise(F.lit(0)),
        ).drop("_hot")
        bc = bc.join(hot, "_cell", "left").withColumn(
            "_salt",
            F.explode(
                F.when(F.col("_hot").isNotNull(),
                       F.sequence(F.lit(0), F.lit(n_salt - 1)))
                .otherwise(F.array(F.lit(0)))
            ),
        ).drop("_hot")
        j = ac.join(bc, ["_cell", "_salt"]).drop("_salt")
    else:
        j = ac.join(bc, "_cell")
    rx = F.greatest(F.col("axmin"), F.col("bxmin"))
    ry = F.greatest(F.col("aymin"), F.col("bymin"))
    j = j.filter(
        (F.least(F.col("axmax"), F.col("bxmax")) >= rx)
        & (F.least(F.col("aymax"), F.col("bymax")) >= ry)
        # reference-point dedup: keep the pair only in the cell that
        # contains the intersection's lower-left corner
        & (C.cell_of_xy(rx, ry, res) == F.col("_cell"))
    )
    overlap = (
        F.greatest(F.least(F.col("axmax"), F.col("bxmax")) - F.greatest(F.col("axmin"), F.col("bxmin")), F.lit(0.0))
        * F.greatest(F.least(F.col("aymax"), F.col("bymax")) - F.greatest(F.col("aymin"), F.col("bymin")), F.lit(0.0))
    )
    return j.withColumn("overlap_area", overlap).drop("_cell")


# ---------------------------------------------------------------------------
# point x point distance-join and kNN
# ---------------------------------------------------------------------------
MAX_GRID_RIGHT_ROWS = 2_000_000  # dimension-sized contract for the grid kernel
_GRID_INDEX_BOUND = 1 << 31  # |cell index| bound of the packed grid key


def _grid_index(v: np.ndarray, s: float, side: str) -> np.ndarray:
    """floor(v / s) of finite coordinates as int64 grid cell indices.
    Raises once an index reaches 2**31 in magnitude: the packed key
    ix * 2**32 + iy would wrap there and buckets would collide."""
    f = np.floor(v / s)
    if len(f) and np.abs(f).max() >= _GRID_INDEX_BOUND:
        raise ValueError(
            f"distance_join(broadcast_right=True): a {side} coordinate is "
            f"2**31 or more grid cells of radius {s} from the origin, where "
            "grid keys wrap; use a larger radius or broadcast_right=False")
    return f.astype(np.int64)


def _grid_distance_kernel(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    topk_per_row: int | None = None,
) -> DataFrame:
    """Broadcast-grid distance join (guide §4.2, §8): the right side is
    DIMENSION-SIZED (the broadcast_right contract — the reference's
    STRtree held the full right table per process), so instead of
    exploding the left side 9x into a cell equi-join, collect the right
    points ONCE, bucket them into a uniform grid of cell edge
    ``radius``, and stream the left side through a single mapInPandas
    stage that gathers each batch's 3x3 neighborhoods with CSR index
    arithmetic — all numpy, no join, no shuffle, no explode.

    Exactness: identical float64 arithmetic to the Column path
    (dist = sqrt((lx-rx)*(lx-rx) + (ly-ry)*(ly-ry)), filter dist <=
    radius), and a grid edge of ``radius`` makes the 3x3 neighborhood a
    guaranteed cover of the radius (any |dx| <= radius spans at most one
    cell index) while every |cell index| stays below 2**31, so the
    packed keys cannot wrap (checked on both sides; raises beyond).
    Output schema/list parity with the join path:
    [left cols..., right cols..., dist].

    The right side is collected by collect_bounded under
    MAX_GRID_RIGHT_ROWS.

    ``topk_per_row``: emit only each LEFT ROW's top-k candidates by
    (dist asc, r_id asc) — a superset of any per-l_id global top-k
    (knn_join pre-reduction; the caller still aggregates/ranks)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    sc = left.sparkSession.sparkContext
    rpdf = collect_bounded(
        right, MAX_GRID_RIGHT_ROWS,
        "the distance_join(broadcast_right=True) right side "
        "(MAX_GRID_RIGHT_ROWS)")
    r_fields = right.schema.fields
    rx = rpdf["rx"].to_numpy(dtype=np.float64)
    ry = rpdf["ry"].to_numpy(dtype=np.float64)
    fin = np.isfinite(rx) & np.isfinite(ry)
    if not fin.all():
        rpdf, rx, ry = rpdf.loc[fin], rx[fin], ry[fin]
    s = float(radius)
    _SH = np.int64(1) << np.int64(32)
    rix = _grid_index(rx, s, "right")
    riy = _grid_index(ry, s, "right")
    rkey = rix * _SH + riy
    order = np.argsort(rkey, kind="stable")
    rs = rpdf.iloc[order].reset_index(drop=True)
    uniq, starts, counts = np.unique(rkey[order], return_index=True,
                                     return_counts=True)
    bc = sc.broadcast({
        "rs": rs, "rx": rx[order], "ry": ry[order],
        "uniq": uniq, "starts": starts, "counts": counts,
        "rid": (rs["r_id"].to_numpy()
                if topk_per_row is not None else None),
    })

    # single-file left scans arrive as 1-2 partitions and would run the
    # kernel single-threaded — spread them (same discipline as every
    # CPU-bound map stage; no-op when the scan is already parallel)
    from .dedup import _ensure_parallelism

    left = _ensure_parallelism(left)
    l_fields = left.schema.fields
    out_schema = StructType(list(l_fields) + list(r_fields)
                            + [StructField("dist", DoubleType(), True)])
    l_names = [f.name for f in l_fields]
    r_names = [f.name for f in r_fields]
    k = topk_per_row

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        g = bc.value
        uniq, starts, counts = g["uniq"], g["starts"], g["counts"]
        rxs, rys, rs, rid = g["rx"], g["ry"], g["rs"], g["rid"]
        nu = len(uniq)
        for pdf in it:
            if not len(pdf) or not nu:
                continue
            lx = pdf["lx"].to_numpy(dtype=np.float64)
            ly = pdf["ly"].to_numpy(dtype=np.float64)
            ok_l = np.isfinite(lx) & np.isfinite(ly)
            if not ok_l.all():
                pdf = pdf.loc[ok_l].reset_index(drop=True)
                if not len(pdf):
                    continue
                lx, ly = lx[ok_l], ly[ok_l]
            nb = len(pdf)
            lix = _grid_index(lx, s, "left")
            liy = _grid_index(ly, s, "left")
            lis, ris, ds = [], [], []
            for dxo in (-1, 0, 1):
                for dyo in (-1, 0, 1):
                    key = (lix + dxo) * _SH + (liy + dyo)
                    pos = np.searchsorted(uniq, key)
                    posc = np.minimum(pos, nu - 1)
                    cnt = np.where(uniq[posc] == key, counts[posc], 0)
                    total = int(cnt.sum())
                    if not total:
                        continue
                    li = np.repeat(np.arange(nb), cnt)
                    offs = np.arange(total) - np.repeat(
                        np.cumsum(cnt) - cnt, cnt)
                    ri = np.repeat(starts[posc], cnt) + offs
                    dxv = lx[li] - rxs[ri]
                    dyv = ly[li] - rys[ri]
                    d = np.sqrt(dxv * dxv + dyv * dyv)
                    m = d <= s
                    if m.any():
                        lis.append(li[m])
                        ris.append(ri[m])
                        ds.append(d[m])
            if not lis:
                continue
            li = np.concatenate(lis)
            ri = np.concatenate(ris)
            d = np.concatenate(ds)
            if k is not None and len(li):
                # per-left-row top-k by (dist, r_id): sort groups once,
                # rank by offset-from-group-start
                idx = np.lexsort((rid[ri], d, li))
                li, ri, d = li[idx], ri[idx], d[idx]
                gstart = np.concatenate(
                    ([0], np.flatnonzero(np.diff(li)) + 1))
                glen = np.diff(np.concatenate((gstart, [len(li)])))
                rank = np.arange(len(li)) - np.repeat(gstart, glen)
                keep = rank < k
                li, ri, d = li[keep], ri[keep], d[keep]
            out = pd.concat(
                [pdf.iloc[li][l_names].reset_index(drop=True),
                 rs.iloc[ri][r_names].reset_index(drop=True)],
                axis=1)
            out["dist"] = d
            yield out

    return left.mapInPandas(gen, schema=out_schema)


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    res: int | None = None,
    broadcast_right: bool = False,
    _topk_per_row: int | None = None,
) -> DataFrame:
    """All (left, right) pairs with euclidean distance <= radius.

    ``left``: l_id, lx, ly. ``right``: r_id, rx, ry. Exact (not approximate):
    ``res`` is chosen so one k-ring covers the radius; the residual filter
    does the exact test. Reference parity: buffer(r)+intersects probes
    (helpers.py:375-383, validate_topology.py:190-197) — buffer-intersects
    point ≡ distance<=r, no polygon buffer materialized.

    ``broadcast_right=True`` (the dimension-side contract) runs the
    broadcast-grid kernel instead of the cell equi-join: the right side
    is collected and grid-bucketed once, the left side streams through
    one mapInPandas stage — zero exchanges, zero explode (r9; see
    _grid_distance_kernel). Same rows, same float64 dist."""
    if broadcast_right:
        return _grid_distance_kernel(left, right, radius,
                                     topk_per_row=_topk_per_row)
    res = res if res is not None else C.res_for_radius(radius)
    lix, liy = C.xy_to_ixy(F.col("lx"), F.col("ly"), res)
    lc = left.withColumn("_cell", F.explode(C.kring_cells(lix, liy, res, 1)))
    rc = right.withColumn("_cell", C.cell_of_xy(F.col("rx"), F.col("ry"), res))
    dist = F.sqrt(
        (F.col("lx") - F.col("rx")) * (F.col("lx") - F.col("rx"))
        + (F.col("ly") - F.col("ry")) * (F.col("ly") - F.col("ry"))
    )
    return lc.join(rc, "_cell").withColumn("dist", dist).filter(F.col("dist") <= radius).drop("_cell")


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 1,
    max_distance: float = float("inf"),
    res: int | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """k nearest right-points per left-point within max_distance.

    Ranked distance over k-ring candidates (BASELINE.json north_star:
    "kNN via H3 k-ring expansion + window-ranked distance"); k=1 — the
    reference's nearest-with-max-dist semantics — runs as a map-side-
    combined min_by aggregation instead of a window (see inline note).
    Ties break on r_id so results are deterministic — the reference's
    first-STRtree-hit selection (helpers.py:160-162,395) is
    insertion-order dependent; we pin it (SURVEY.md §7 hard parts).
    ``broadcast_right``: hint when the right side is a known-small
    dimension set (the reference's shape — its STRtree holds the FULL
    right table per process, helpers.py:155-163, so broadcast is the
    faithful distribution: the left side never shuffles for the join
    and only the min_by combine exchanges one row per l_id per map
    partition; measured 3x on the customer-supplier driver query).
    """
    if not np.isfinite(max_distance):
        raise ValueError("knn_join requires a finite max_distance (cell prefilter bound)")
    # broadcast_right → the grid kernel pre-reduces to each left ROW's
    # top-k candidates inside the map stage (a superset of any per-l_id
    # global top-k), so the aggregation/window below sees at most k rows
    # per input row instead of every k-ring candidate
    cand = distance_join(left, right, max_distance, res=res,
                         broadcast_right=broadcast_right,
                         _topk_per_row=k if broadcast_right else None)
    if k == 1:
        # nearest-neighbour (the reference's semantics and the hot path):
        # a min_by AGGREGATION, not a window. HashAggregate combines
        # partially on the map side with no distribution requirement, so
        # the single exchange carries at most ONE row per (l_id, map
        # partition) — immune to dense-cell skew (a window would shuffle
        # and sort EVERY candidate of a hot k-ring), zero sorts anywhere,
        # and never more exchanges than the round-3 single-window plan.
        # struct(dist, r_id) ordering = (dist asc, r_id asc) tie-break,
        # identical to the window orderBy below.
        others = [c for c in cand.columns if c != "l_id"]
        best = cand.groupBy("l_id").agg(
            F.min_by(F.struct(*others), F.struct("dist", "r_id")).alias("_b"))
        return best.select("l_id", "_b.*").withColumn("knn_rank", F.lit(1))
    w = Window.partitionBy("l_id").orderBy(F.col("dist").asc(), F.col("r_id").asc())
    return cand.withColumn("knn_rank", F.row_number().over(w)).filter(F.col("knn_rank") <= k)


# ---------------------------------------------------------------------------
# point x polygon join (cell prefilter + numpy PIP refine)
# ---------------------------------------------------------------------------
def polygon_cover_cells(polys: DataFrame, res: int, convex: bool = False) -> DataFrame:
    """(poly_id, _cell, _interior) polyfill at ``res``: every cell whose
    square intersects the polygon's bbox (prefilter superset), with
    ``_interior`` marking cells wholly inside the polygon — points landing
    in interior cells skip the exact PIP test entirely (the compact/
    uncompact trick of H3-style engines). The wholly-inside test (all 4
    cell corners inside) is exact for convex polygons; pass convex=False
    to disable it for general rings."""

    n = 1 << res
    size = C.EXTENT / n

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, cs, inter = [], [], []
            for pid, vs in zip(pdf["poly_id"], pdf["vertices"]):
                arr = GK.vertex_array(vs, "polygon_cover_cells polys.vertices")
                xmin, ymin = arr[:, 0].min(), arr[:, 1].min()
                xmax, ymax = arr[:, 0].max(), arr[:, 1].max()
                ix0 = int(np.clip(np.floor(xmin / size), 0, n - 1))
                ix1 = int(np.clip(np.floor(xmax / size), 0, n - 1))
                iy0 = int(np.clip(np.floor(ymin / size), 0, n - 1))
                iy1 = int(np.clip(np.floor(ymax / size), 0, n - 1))
                ixs, iys = np.meshgrid(
                    np.arange(ix0, ix1 + 1, dtype=np.int64),
                    np.arange(iy0, iy1 + 1, dtype=np.int64),
                    indexing="ij",
                )
                ixs, iys = ixs.ravel(), iys.ravel()
                cells_ = C.cell_encode_np(ixs, iys, res)
                if convex:
                    x0, y0 = ixs * size, iys * size
                    inside = np.ones(len(ixs), dtype=bool)
                    for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1)):
                        inside &= GK.points_in_polygon(x0 + dx * size, y0 + dy * size, arr)
                else:
                    inside = np.zeros(len(ixs), dtype=bool)
                ids.extend([pid] * len(cells_))
                cs.extend(cells_.tolist())
                inter.extend(inside.tolist())
            yield pd.DataFrame({"poly_id": ids, "_cell": cs, "_interior": inter})

    return polys.select("poly_id", "vertices").mapInPandas(
        gen, schema="poly_id long, _cell long, _interior boolean"
    )


MAX_BROADCAST_POLYS = 200_000  # dimension-sized contract for pip_refine_udf


def pip_refine_udf(polys: DataFrame):
    """Scalar pandas UDF (x, y, poly_id) -> bool doing exact PIP against a
    broadcast of the polygon vertex arrays.

    Used as a JVM-side FILTER: Arrow carries 3 numeric columns in and one
    boolean out per candidate row — never the full row. (The first
    mapInPandas design round-tripped whole candidate rows and the Arrow
    exchange of the id strings alone cost more than the geometry.)

    CONTRACT: ``polys`` is dimension-sized (it is collected + broadcast).
    The bound is ENFORCED, not assumed — collect_bounded raises past
    MAX_BROADCAST_POLYS; shard such sets (e.g. per tile via
    groupBy().applyInPandas) before refining.
    """
    ppdf = collect_bounded(polys.select("poly_id", "vertices"),
                            MAX_BROADCAST_POLYS,
                            "the pip_refine_udf polygon set (MAX_BROADCAST_POLYS)")
    polys_local: dict[int, np.ndarray] = {
        int(pid): GK.vertex_array(verts, "pip_refine_udf polys.vertices")
        for pid, verts in zip(ppdf["poly_id"], ppdf["vertices"])}
    # group polygons by vertex count so the kernel vectorizes across ALL
    # candidate rows of a batch (one gather-indexed ray-cast pass per
    # edge); each group holds its ids sorted, its polygons stacked in
    # that order, so a searchsorted position is the polygon's index
    by_count: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for v_count in {len(a) for a in polys_local.values()}:
        ids = sorted(pid for pid, a in polys_local.items() if len(a) == v_count)
        stacked = np.stack([polys_local[pid] for pid in ids])
        by_count[v_count] = (np.asarray(ids, dtype=np.int64), stacked)
    bc = polys.sparkSession.sparkContext.broadcast(by_count)

    @F.pandas_udf("boolean")
    def pip_ok(x: pd.Series, y: pd.Series, poly_id: pd.Series) -> pd.Series:
        groups = bc.value
        xs = x.values.astype(np.float64)
        ys = y.values.astype(np.float64)
        key = poly_id.values.astype(np.int64)
        keep = np.zeros(len(xs), dtype=bool)
        for ids, stacked in groups.values():
            idx = np.minimum(np.searchsorted(ids, key), len(ids) - 1)
            m = ids[idx] == key
            if m.any():
                keep[m] = GK.points_in_polygons_indexed(xs[m], ys[m], stacked, idx[m])
        return pd.Series(keep)

    return pip_ok


def point_in_polygon_join(
    points: DataFrame,
    polys: DataFrame,
    res: int,
    broadcast_polys: bool = True,
    convex: bool = True,
) -> DataFrame:
    """(point, poly_id) for each polygon containing the point (boundary
    inclusive). ``points``: p_id, x, y. ``polys``: poly_id, vertices.

    Reference parity: `within`/`covered_by` STRtree probes
    (link_arcs.py:92-97, validate_meshblock.py:378-380). Three-tier plan:

    1. Morton-cell equi-join against the polyfill (pure Column, broadcast
       for dimension-sized polygon sets);
    2. interior-cell short-circuit — candidates in cells wholly inside a
       polygon (convex polys) pass the filter whatever the PIP result.
       The UDF still sees them: Spark's ArrowEvalPython evaluates the
       UDF for every row below the Filter, so this saves no Python work.
       Keeping them out with a union of an interior branch and a
       ``~_interior`` branch under the UDF measured slower (0.76 →
       1.12 s median over 8 runs, 30k points, 256 quads, res 6, 31% of
       51k candidates interior, local[4]): Catalyst pushes each branch's
       ``_interior`` filter into the broadcast side, so the polyfill's
       mapInPandas and the point scan both run twice;
    3. exact PIP refine as a scalar pandas-UDF filter over (x, y,
       poly_id) only — the Arrow exchange never carries payload columns.
    """
    cover = polygon_cover_cells(polys, res, convex=convex)
    if broadcast_polys:
        cover = F.broadcast(cover)
    cand = points.withColumn("_cell", C.cell_of_xy(F.col("x"), F.col("y"), res)).join(
        cover, "_cell"
    )
    pip_ok = pip_refine_udf(polys)
    return cand.filter(
        F.col("_interior") | pip_ok(F.col("x"), F.col("y"), F.col("poly_id"))
    ).drop("_cell", "_interior")
