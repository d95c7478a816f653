"""Raster tile pyramid — multi-resolution rollup of georeferenced images.

The BASELINE.json north star materializes raster tiles at ONE cell
resolution (operators/images.py tile_roundtrip_report); a serving map
stack needs every coarser zoom too. This operator builds them the way a
1000-executor job must: level by level, each level a single
groupBy(parent).applyInPandas over the level below — 4 children per
group (bounded memory by construction, no skew possible), pixel work
Arrow-batched, never on the driver. Tile count shrinks 4× per level, so
the whole pyramid costs < 4/3 of the base level.

Pixel semantics are exact and associative: a child quadrant is placed
into its parent by stride-2 subsampling (`arr[::2, ::2]`), so rolling
up one level at a time equals downsampling straight from the base level
(stride-2 composed k times IS stride-2^k) — tested against an
independent numpy reference, and the invariant that makes incremental
pyramid repair sound (re-rolling a dirty subtree reproduces byte-equal
ancestors).

Reference parity: egp-crn renders per-province map sheets from ONE
resolution (src/helpers.py export path); the pyramid is the
scale-generalized form the 10^12-image table needs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions.georef import phash_x, phash_y
from ..functions.imagecodec import decode_image, resize_nearest
from .cellsets import cell_parent_expr
from .guard import join_hint

__all__ = ["base_tiles", "rollup_level", "build_pyramid",
           "pyramid_update"]

_TILE_SCHEMA = "cell long, px binary, n_src long"


def base_tiles(images: DataFrame, res: int, tile_px: int = 16) -> DataFrame:
    """Base pyramid level: one ``tile_px``×``tile_px`` RGB tile per
    occupied cell at ``res``, rendered from the cell's representative
    image (min image_id — deterministic under any partitioning).

    Two stages, both scale-shaped: a map-side-combining ``min_by``
    aggregation picks ONE representative per cell (at most one row per
    (cell, map partition) crosses the exchange — the knn_join family),
    then an Arrow-batched decode+resize touches only the ~|cells|
    survivors, never the full corpus. Returns (cell, px, n_src) with
    ``px`` = raw uint8 RGB bytes (codec-free: pyramid levels compose
    exactly; encode at the serving edge if wire format matters)."""
    if tile_px & (tile_px - 1):
        raise ValueError("tile_px must be a power of two")
    cell = C.cell_of_xy(phash_x(F.col("phash")), phash_y(F.col("phash")), res)
    reps = (
        images.select(cell.alias("cell"), "image_id", "bytes")
        .groupBy("cell")
        .agg(F.min_by("bytes", "image_id").alias("bytes"),
             F.count(F.lit(1)).alias("n_src"))
    )
    # the decode is CPU-bound per ROW, but AQE coalesces the post-agg
    # exchange by BYTES — a few-MB representative set collapses to one
    # partition and decodes single-threaded. Size by rows-per-core
    # instead: one partition per core is right at any scale for a
    # compute-bound stage (cells/cores rows per task).
    reps = reps.repartition(
        images.sparkSession.sparkContext.defaultParallelism)

    def render(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            px = [
                resize_nearest(decode_image(bytes(b)), tile_px, tile_px)
                .tobytes()
                for b in pdf["bytes"]
            ]
            yield pd.DataFrame({"cell": pdf["cell"], "px": px,
                                "n_src": pdf["n_src"]})

    return reps.mapInPandas(render, schema=_TILE_SCHEMA)


def rollup_level(tiles: DataFrame, tile_px: int = 16) -> DataFrame:
    """One pyramid level up: each parent tile mosaics its ≤4 children,
    every child quadrant stride-2 subsampled into place (missing
    children stay zero — transparent fill). Morton bit 0 of the child
    cell is the x quadrant, bit 1 the y quadrant (functions/cells.py
    interleave order). n_src sums over the subtree.

    Shape (r9, guide §4.2): hash-repartition by parent + local sort,
    then ONE vectorized numpy pass per Arrow batch — the former
    groupBy(parent).applyInPandas dispatched a pandas DataFrame per
    ≤4-row group, and at fine resolutions that per-group constant
    dominated the level (the whole 87k-tile sandbox pyramid is a few MB
    of pixels). Same shuffle (hash on parent), same bytes, zero
    per-group dispatch. A parent's children are contiguous after the
    sort; the kernel holds back the trailing parent of each batch so a
    group split across Arrow batches is mosaicked exactly once."""
    half = tile_px // 2

    def fold_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def mosaic(parents: np.ndarray, cells: np.ndarray,
                   px_join: bytes, n_src: np.ndarray) -> pd.DataFrame:
            buf = np.frombuffer(px_join, dtype=np.uint8).reshape(
                -1, tile_px, tile_px, 3)
            sub = buf[:, ::2, ::2, :]
            pids, counts = np.unique(parents, return_counts=True)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            gidx = np.repeat(np.arange(len(pids)), counts)
            canvas = np.zeros((len(pids), tile_px, tile_px, 3),
                              dtype=np.uint8)
            qx = (cells & 1).astype(np.intp)
            qy = ((cells >> 1) & 1).astype(np.intp)
            r = np.arange(half)
            canvas[gidx[:, None, None],
                   (qy * half)[:, None, None] + r[None, :, None],
                   (qx * half)[:, None, None] + r[None, None, :]] = sub
            nsrc = np.add.reduceat(n_src, starts)
            return pd.DataFrame({
                "cell": pids,
                "px": [c.tobytes() for c in canvas],
                "n_src": nsrc,
            })

        pend: pd.DataFrame | None = None
        for pdf in it:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if not len(pdf):
                continue
            parents = pdf["parent"].to_numpy(dtype=np.int64)
            # rows arrive sorted by parent: hold back the trailing
            # parent group — it may continue in the next batch
            cut = int(np.searchsorted(parents, parents[-1], side="left"))
            if cut == 0:
                pend = pdf
                continue
            pend = pdf.iloc[cut:]
            head = pdf.iloc[:cut]
            yield mosaic(
                parents[:cut], head["cell"].to_numpy(dtype=np.int64),
                b"".join(bytes(b) for b in head["px"]),
                head["n_src"].to_numpy(dtype=np.int64))
        if pend is not None and len(pend):
            yield mosaic(
                pend["parent"].to_numpy(dtype=np.int64),
                pend["cell"].to_numpy(dtype=np.int64),
                b"".join(bytes(b) for b in pend["px"]),
                pend["n_src"].to_numpy(dtype=np.int64))

    return (
        tiles.withColumn("parent", cell_parent_expr(F.col("cell")))
        .select("parent", "cell", "px", "n_src")
        .repartition("parent")
        .sortWithinPartitions("parent", "cell")
        .mapInPandas(fold_batches, schema=_TILE_SCHEMA)
    )


def build_pyramid(images: DataFrame, res: int, min_res: int,
                  tile_px: int = 16) -> DataFrame:
    """Full pyramid: levels ``res`` down to ``min_res`` inclusive,
    tagged with a ``res`` column. ``res - min_res`` rollup passes, each
    reading only the level above it."""
    if not 0 <= min_res <= res:
        raise ValueError("need 0 <= min_res <= res")
    # each level is cached before the union: union branches re-execute
    # shared lineage otherwise, which would recompute the base decode
    # once PER LEVEL (at real scale each level lands in the catalog as
    # it is built, which serves the same purpose)
    level = base_tiles(images, res, tile_px).cache()
    out = level.withColumn("res", F.lit(res))
    for r in range(res - 1, min_res - 1, -1):
        level = rollup_level(level, tile_px).cache()
        out = out.unionByName(level.withColumn("res", F.lit(r)))
    return out.select("res", "cell", "px", "n_src")


def pyramid_update(old_pyramid: DataFrame, images: DataFrame,
                   changed: DataFrame, res: int, min_res: int,
                   tile_px: int = 16, emit: str = "full") -> DataFrame:
    """Incremental pyramid maintenance: re-roll ONLY the dirty subtrees.

    ``old_pyramid`` is a prior ``build_pyramid`` output (levels ``res``
    … ``min_res``), ``images`` the CURRENT image table (post-changes),
    and ``changed`` the changed image rows in the snaplog changelog
    shape (a ``_change_type`` column; inserts AND deletes both dirty
    their cell — the row set, not the type, is what matters). The
    maintained pyramid equals ``build_pyramid(images, ...)`` byte-equal
    (tested), but the work is O(|changed| + dirty-ancestor paths):

    - dirty base cells = distinct cells of changed rows (metadata-sized);
    - the base level recomputes representatives only for dirty cells
      (semi-join before the min_by aggregation — the full corpus is
      touched once by the cell-membership filter, decoded only for
      dirty survivors);
    - each coarser level re-mosaics only parents of dirty cells, reading
      the already-patched level below — a deleted last image empties its
      cell and the parent re-rolls with fewer children (transparent
      fill), the same associativity the numpy-reference test pins.

    This is the snaplog-changelog composition the index maintainer uses
    for ANN (operators/index_maintain.py), applied to the raster stack:
    the reference's full per-province re-render becomes an incremental
    repair at 10^12-image scale.

    ``emit="full"`` returns the complete patched pyramid (old tiles
    anti-joined against the dirty set, unioned with the recomputed ones
    — the equality-testable form). ``emit="delta"`` returns ONLY the
    recomputed tiles, the production write shape: the writer overwrites
    the dirty cell range per level, so a cell emptied by deletes is
    simply absent from the delta (overwrite-partition tombstone
    semantics, sources/snaplog.py overwrite_partitions).

    When repair pays off: churn must be cell-sparse or spatially
    localized (a vintage over one region — the reference's model), and
    the corpus should live cell-clustered (operators/cluster.py) so the
    dirty-member scan is file-pruned. Uniform churn touching a large
    fraction of cells → rebuild instead (BENCH/PYRAMID.md measures the
    boundary)."""
    if emit not in ("full", "delta"):
        raise ValueError("emit must be 'full' or 'delta'")
    cell = C.cell_of_xy(phash_x(F.col("phash")), phash_y(F.col("phash")),
                        res)
    dirty = changed.select(cell.alias("cell")).distinct().cache()
    # dirty is cached; its one count decides the join strategy of every
    # level (coarser dirty sets are never larger than the base one)
    h = join_hint(dirty)
    level_new = base_tiles(
        images.join(dirty.withColumnRenamed("cell", "_dirty").hint(h),
                    cell == F.col("_dirty"), "left_semi"),
        res, tile_px).cache()

    def _patched(r, level_new, dirty):
        return (old_pyramid.filter(F.col("res") == r)
                .select("cell", "px", "n_src")
                .join(dirty.hint(h), "cell", "left_anti")
                .unionByName(level_new).cache())

    cur = _patched(res, level_new, dirty)
    out = (level_new if emit == "delta" else cur).withColumn(
        "res", F.lit(res))
    for r in range(res - 1, min_res - 1, -1):
        dirty = dirty.select(
            cell_parent_expr(F.col("cell")).alias("cell")).distinct().cache()
        siblings = cur.join(
            dirty.hint(h),
            cell_parent_expr(cur["cell"]) == dirty["cell"], "left_semi")
        level_new = rollup_level(siblings, tile_px).cache()
        cur = _patched(r, level_new, dirty)
        out = out.unionByName(
            (level_new if emit == "delta" else cur)
            .withColumn("res", F.lit(r)))
    return out.select("res", "cell", "px", "n_src")
