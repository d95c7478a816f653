"""Meshblock creation + representation validations.

Re-expresses the reference's meshblock stage (validate_meshblock.py):
polygonize all non-deadend arcs into faces (:339-366), then validate that
deadend arcs sit within exactly one face (201, :368-392) and that
non-deadend BO arcs lie on face boundaries (202, :394-421).

Scale design — tile-parallel polygonize (SURVEY.md §2.4 A5, the
raster↔vector tile-materialization op of BASELINE.json north_star):
polygonize is inherently a connected-planar-graph computation, so the
distributed plan shards it by Morton TILE:

  1. every arc is replicated to each tile whose buffered bbox its own
     bbox intersects (buffer = ``max_face_diameter`` — a face always
     closes within that neighbourhood of any of its arcs);
  2. applyInPandas per tile runs the half-edge kernel on the tile's
     arc set;
  3. ownership: a face belongs to the tile containing its canonical
     (lexicographically smallest) vertex — each face is kept exactly
     once; cross-tile duplicates drop out by construction, and a
     face-checksum dedup guards the edge cases.

Faces with diameter > max_face_diameter are NOT guaranteed closed in any
single tile; pick tile_res/buffer so tiles ≫ expected block size (the
reference's ~140 working areas embody the same assumption —
src/config.yaml:23-160).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions import geomexpr as GX
from ..functions import geomkernel as GK
from ..functions.polygonize_kernel import face_checksum
from . import nodes as N

# holes: one FLATTENED ring per element ([x0, y0, x1, y1, ...]) — a
# triple-nested array<array<array<double>>> would be the natural type,
# but pyarrow segfaults converting all-empty triple-nested columns
# (toPandas of a faces table with no holes), so rings flatten to pairs.
FACE_SCHEMA = ("face_id string, tile long, vertices array<array<double>>, "
               "holes array<array<double>>, area double")


def meshblock_input(arcs: DataFrame, id_col: str = "segment_id",
                    vertices: str = "vertices") -> DataFrame:
    """All non-deadend arcs (validate_meshblock.py:357-358,
    conflate_meshblock.py:70-72)."""
    dead_ids = N.deadends(arcs, id_col, vertices).select(id_col).distinct()
    return arcs.join(dead_ids, id_col, "left_anti")


def polygonize_tiled(
    arcs: DataFrame,
    tile_res: int = 4,
    max_face_diameter: float | None = None,
    vertices: str = "vertices",
) -> DataFrame:
    """Distributed polygonize → faces (face_id, tile, vertices, area)."""
    size = C.cell_size(tile_res)
    buf = max_face_diameter if max_face_diameter is not None else size / 2.0

    def idx(c, lo):
        return C.idx_of(c + F.lit(lo), tile_res)

    # Vertex arrays ride the tile shuffle whole (measured FASTER than
    # pre-exploding to flat segment rows on noded networks, where almost
    # every arc IS one segment — the segment_pairs transform plus an
    # extra explode cost more JVM time than the nested Arrow transfer
    # saves); the vectorized kernel flattens them in numpy per tile.
    bb = GX.bbox(F.col(vertices))
    tiled = (
        arcs.select(F.col(vertices), bb.alias("_bb"))
        .withColumn("_ix", F.explode(F.sequence(idx(F.col("_bb.xmin"), -buf),
                                                idx(F.col("_bb.xmax"), buf))))
        .withColumn("_iy", F.explode(F.sequence(idx(F.col("_bb.ymin"), -buf),
                                                idx(F.col("_bb.ymax"), buf))))
        .withColumn("tile", C.cell_encode(F.col("_ix"), F.col("_iy"), tile_res))
        .select("tile", vertices)
    )

    def per_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..functions.polygonize_kernel import (assign_holes,
                                                   polygonize_vertex_arrays)

        tile = key[0]
        # decode this tile's bounds from its Morton id via the cell of one
        # contained arc vertex is unnecessary: recompute from key
        morton = tile & ((1 << C.RES_SHIFT) - 1)
        # deinterleave morton (python ints, tiny)
        ix = iy = 0
        for b in range(16):
            ix |= ((morton >> (2 * b)) & 1) << b
            iy |= ((morton >> (2 * b + 1)) & 1) << b
        x0, y0 = ix * size, iy * size
        faces = assign_holes(polygonize_vertex_arrays(
            pdf[vertices], f"polygonize_tiled {vertices}"))
        rows = []
        for f, holes in faces:
            # ownership: canonical shell vertex must lie in THIS tile
            ci = min(range(len(f)), key=lambda k: (f[k, 0], f[k, 1]))
            cx, cy = f[ci]
            if not (x0 <= cx < x0 + size and y0 <= cy < y0 + size):
                continue
            x, yv = f[:, 0], f[:, 1]
            area = abs(np.dot(x, np.roll(yv, -1)) - np.dot(yv, np.roll(x, -1))) / 2.0
            area -= sum(GK.polygon_area(h) for h in holes)  # shapely parity
            rows.append(
                {"face_id": face_checksum(f), "tile": tile,
                 "vertices": f.tolist(),
                 "holes": [h.ravel().tolist() for h in holes],
                 "area": float(area)}
            )
        return pd.DataFrame(rows, columns=["face_id", "tile", "vertices", "holes", "area"])

    faces = tiled.groupBy("tile").applyInPandas(per_tile, schema=FACE_SCHEMA)
    # belt-and-braces: face-checksum dedup across tiles
    return faces.dropDuplicates(["face_id"])


def polygonize_meshblock(arcs: DataFrame, tile_res: int = 4,
                         max_face_diameter: float | None = None) -> DataFrame:
    """Reference meshblock: polygonize(unary_union(non-deadend arcs))."""
    arcs = GX.require_xy(arcs, "vertices", "polygonize_meshblock")
    return polygonize_tiled(meshblock_input(arcs), tile_res, max_face_diameter)


# ---------------------------------------------------------------- validations
def mb_v101_deadend_bo(arcs: DataFrame, id_col: str = "segment_id",
                       vertices: str = "vertices") -> DataFrame:
    """Validation 101 (meshblock namespace): BOs with an unintegrated
    (deadend) node — validate_meshblock.py:291-310."""
    from .snapsuggest import unintegrated_bo_nodes

    un = unintegrated_bo_nodes(arcs, id_col, vertices).select("node")
    bo_ends = N.endpoint_nodes(arcs.filter(F.col("segment_type") == 2), id_col, vertices)
    return (
        bo_ends.join(un, "node", "left_semi")
        .select(F.col(id_col).alias("flagged_id"))
        .distinct()
    )


def mb_v102_missing_bo(arcs: DataFrame, restore: DataFrame,
                       bo_id: str = "ngd_uid") -> DataFrame:
    """Validation 102: BO ids present in the restore snapshot but missing
    from the working layer (validate_meshblock.py:312-337). Returns the
    missing restore ROWS (the reference exports them, flags nothing)."""
    current_ids = arcs.select(bo_id).distinct()
    return (
        restore.filter(F.col("segment_type") == 2)
        .join(current_ids, bo_id, "left_anti")
    )


def validate_meshblock(arcs: DataFrame, restore: DataFrame,
                       tile_res: int = 4,
                       id_col: str = "segment_id") -> tuple[DataFrame, DataFrame, DataFrame]:
    """The composed meshblock stage (validate_meshblock.py:103-110 DAG):
    connectivity (100, state only) → deadend-BO (101) → missing-BO (102)
    → polygonize (200) → deadend-within (201) → BO-on-boundary (202).

    Returns (arcs_with_flags, faces, progress) where progress mirrors the
    reference's meshblock tracker (:245-254): Valid / Invalid /
    Invalid (Missing BO) / Excluded counts.
    """
    spark = arcs.sparkSession
    faces = polygonize_meshblock(arcs, tile_res=tile_res).cache()
    flags = {
        101: mb_v101_deadend_bo(arcs, id_col),
        201: mb_v201_deadend_within(arcs, faces, id_col),
        202: mb_v202_bo_on_boundary(arcs, faces, id_col),
    }
    out = arcs
    for code, flagged in flags.items():
        out = out.join(
            flagged.withColumnRenamed("flagged_id", id_col).withColumn(f"v{code}", F.lit(1)),
            id_col, "left",
        ).fillna({f"v{code}": 0})

    missing = mb_v102_missing_bo(arcs, restore)
    # progress partitions every arc exactly once: Invalid = flagged by any
    # representation validation (v201 flags DEADEND arcs, v202 may too),
    # Excluded = deadends NOT flagged, Valid = the rest — no arc is both
    # Invalid and Excluded (the round-1 counting subtracted deadend flags
    # from the non-deadend pool, silently double-penalizing them).
    # ONE aggregation action over `out`'s three-join lineage (the round-2
    # version fired 3 separate counts, recomputing that lineage each
    # time); missing.count() is the restore table's own lineage.
    dead_ids = N.deadends(arcs, id_col).select(id_col).distinct()
    invalid = (F.col("v201") == 1) | (F.col("v202") == 1)
    row = (
        out.join(dead_ids.withColumn("_dead", F.lit(1)), id_col, "left")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(invalid, 1).otherwise(0)).alias("n_invalid"),
            F.sum(F.when(~invalid & F.col("_dead").isNotNull(), 1).otherwise(0))
            .alias("n_dead_ok"),
        )
        .first()
    )
    n_total = int(row["n_total"] or 0)
    n_invalid = int(row["n_invalid"] or 0)
    n_dead_ok = int(row["n_dead_ok"] or 0)
    progress = spark.createDataFrame(
        [
            ("Valid", n_total - n_invalid - n_dead_ok),
            ("Invalid", n_invalid),
            ("Invalid (Missing BO)", missing.count()),
            ("Excluded", n_dead_ok),
        ],
        "status string, count long",
    )
    return out, faces, progress


def _res_for_faces(faces: DataFrame) -> int:
    """Prefilter resolution matched to face size: the finest res whose
    cell is >= the median face bbox extent. Cells much coarser than the
    faces turn the cover-cell equi-join into an all-pairs-per-cell
    explosion (candidates/deadend ~ (cell/face)²); cells much finer
    inflate the polyfill. One tiny percentile action on the bbox
    extents."""
    bb = GX.bbox(F.col("vertices"))
    ext = faces.select(
        F.greatest(bb["xmax"] - bb["xmin"], bb["ymax"] - bb["ymin"]).alias("d")
    )
    row = ext.agg(F.percentile_approx("d", 0.5).alias("m")).first()
    med = float(row["m"]) if row and row["m"] else C.cell_size(6)
    return C.res_for_radius(max(med, 1e-9))


def mb_v201_deadend_within(arcs: DataFrame, faces: DataFrame,
                           id_col: str = "segment_id",
                           vertices: str = "vertices",
                           res: int | None = None) -> DataFrame:
    """Deadend arcs must be within exactly ONE face
    (validate_meshblock.py:368-392).

    Distributed plan (replaces the round-1 collect-all-faces + Python
    loop, which was a driver OOM + O(arcs×faces) kernel at national
    scale): faces polyfill to Morton cover cells at ``res`` (bbox
    superset, same prefilter as point_in_polygon_join); each deadend arc
    carries ONE cell — the cell of its first vertex. Lossless: if the arc
    is within a face, its first vertex is inside it, so the face's cover
    necessarily includes that cell. Candidate (arc, face) pairs refine
    with the exact hole-aware polyline-within kernel (vertex+midpoint
    samples PLUS proper segment-crossing — exact for concave faces where
    sampling alone can miss an exit-and-reenter)."""
    from .spatial_join import polygon_cover_cells

    arcs = GX.require_xy(arcs, vertices, "mb_v201_deadend_within arcs")
    faces = GX.require_xy(faces, "vertices", "mb_v201_deadend_within faces")
    if res is None:
        res = _res_for_faces(faces)
    dead_ids = N.deadends(arcs, id_col, vertices).select(id_col).distinct()
    dead = arcs.join(dead_ids, id_col, "left_semi").select(id_col, vertices)

    has_holes = "holes" in faces.columns
    holes_col = (F.col("holes") if has_holes
                 else F.array().cast("array<array<double>>"))
    fsel = faces.select(
        F.xxhash64("face_id").alias("poly_id"),
        F.col("vertices").alias("_fverts"),
        holes_col.alias("_fholes"),
    )
    cover = polygon_cover_cells(
        fsel.select("poly_id", F.col("_fverts").alias("vertices")), res, convex=False
    ).select("poly_id", "_cell")

    first = F.element_at(F.col(vertices), 1)
    cand = (
        dead.withColumn(
            "_cell",
            C.cell_of_xy(F.element_at(first, 1), F.element_at(first, 2), res),
        )
        .join(cover, "_cell")
        .join(fsel, "poly_id")
        .select(id_col, vertices, "poly_id", "_fverts", "_fholes")
    )

    def refine(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, pids = [], []
            for sid, vs, pid, fv, fh in zip(
                pdf[id_col], pdf[vertices], pdf["poly_id"],
                pdf["_fverts"], pdf["_fholes"],
            ):
                line = GK.vertex_array(vs, f"mb_v201_deadend_within {vertices}")
                shell = GK.vertex_array(fv, "mb_v201_deadend_within faces.vertices")
                holes = [np.asarray(list(h), dtype=np.float64).reshape(-1, 2)
                         for h in fh]
                if GK.polyline_within_polygon(line, shell, holes):
                    ids.append(sid)
                    pids.append(int(pid))
            if ids:
                yield pd.DataFrame({id_col: ids, "poly_id": pids})

    within = cand.mapInPandas(refine, schema=f"{id_col} string, poly_id long")
    counts = within.groupBy(id_col).agg(F.count_distinct("poly_id").alias("n_within"))
    return (
        dead.select(id_col)
        .join(counts, id_col, "left")
        .fillna({"n_within": 0})
        .filter("n_within != 1")
        .select(F.col(id_col).alias("flagged_id"))
    )


def mb_v202_bo_on_boundary(arcs: DataFrame, faces: DataFrame,
                           id_col: str = "segment_id",
                           vertices: str = "vertices") -> DataFrame:
    """BO arcs (segment_type == 2, bo_new != 1) must lie on face boundaries
    (validate_meshblock.py:394-421) — ALL such arcs, including deadends
    (the reference applies covered_by to the full BO set; a dangling
    deadend BO floating inside a face is invalid here even though it
    passes v201). Arcs and faces share NODED segments, so
    covered_by(face boundaries) ⇔ every arc segment key appears among
    face-ring segment keys — one distinct + anti-join, no geometry UDF."""
    bos = arcs.filter((F.col("segment_type") == 2) & (F.col("bo_new") != 1))

    # face rings closed: append first vertex
    ring = faces.select(
        F.col("face_id"),
        F.concat(F.col("vertices"), F.slice(F.col("vertices"), 1, 1)).alias("rv"),
    )
    boundary_keys = N.segment_keys(ring, "face_id", "rv").select("_k1", "_k2").distinct()
    arc_segs = N.segment_keys(bos, id_col, vertices)
    uncovered = arc_segs.join(boundary_keys, ["_k1", "_k2"], "left_anti")
    return uncovered.select(F.col(id_col).alias("flagged_id")).distinct()
