"""Seeded benchmark inputs and the truths planted in them.

Every generator is a pure function of (size, seed): the same seed gives
byte-identical tables. Each returns the input as a DataFrame (or pandas
frame) plus the planted facts the output checks assert, computed from
the generator's own construction, never from the engine under test.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from egp_crn_spark.synth import make_boundaries, make_images

# road world geometry (same shape as tools/pipeline_demo.py:synth_world)
CELL = 50.0
ORIGIN = 1000.0
_CLASSES = 18
_SNAP, _CROSS = 0, 5
_KNUTH = 2654435761
ROAD_COLS = ["segment_id", "segment_id_orig", "segment_type", "bo_new",
             "boundary", "ngd_uid", "structure_type", "vertices"]


def _stub_class(cell_id, seed: int):
    """Class 0..17 of a grid cell: class 0 holds a snap stub, class 5 a
    wall-crossing stub. Works on a Column and on a numpy array alike.
    The seed's offset is reduced mod the class count first (the class
    only depends on it mod 18), so no seed overflows a long: Spark's ANSI
    mode raises on long overflow."""
    return ((cell_id + seed * 7919 % _CLASSES) * _KNUTH) % _CLASSES


def road_world(spark, n: int, seed: int):
    """N x N grid of NRN roads plus BO stubs. A snap stub starts 0.05 off
    its cell's lower-left node (inside the 0.1 snap radius); a crossing
    stub straddles its cell's right wall. Returns (arcs, truths)."""
    base = spark.range((n + 1) * n)
    i = (F.col("id") % (n + 1)).cast("double")
    j = F.expr(f"id div {n + 1}").cast("double")

    def road(prefix, verts, offset):
        return base.select(
            F.concat(F.lit(prefix), F.col("id")).alias("segment_id"),
            F.lpad(F.hex(F.col("id") + offset), 32, "0").alias("segment_id_orig"),
            F.lit("1").alias("segment_type"), F.lit("0").alias("bo_new"),
            F.lit("0").alias("boundary"), F.lit(None).cast("int").alias("ngd_uid"),
            F.lit(None).cast("string").alias("structure_type"),
            verts.alias("vertices"))

    vert = road("v", F.array(F.array(ORIGIN + i * CELL, ORIGIN + j * CELL),
                             F.array(ORIGIN + i * CELL, ORIGIN + (j + 1) * CELL)), 0)
    horiz = road("h", F.array(F.array(ORIGIN + j * CELL, ORIGIN + i * CELL),
                              F.array(ORIGIN + (j + 1) * CELL, ORIGIN + i * CELL)),
                 10_000_000)

    cells = spark.range(n * n)
    ci = (F.col("id") % n).cast("double")
    cj = F.expr(f"id div {n}").cast("double")
    cls = _stub_class(F.col("id"), seed)
    cx, cy = ORIGIN + ci * CELL, ORIGIN + cj * CELL

    def bo(prefix, cond, verts):
        return cells.filter(cond).select(
            F.concat(F.lit(prefix), F.col("id")).alias("segment_id"),
            F.lit("-1").alias("segment_id_orig"),
            F.lit("2").alias("segment_type"), F.lit("0").alias("bo_new"),
            F.lit("0").alias("boundary"),
            (F.col("id") + 1).cast("int").alias("ngd_uid"),
            F.lit("Unknown").alias("structure_type"),
            verts.alias("vertices"))

    snap = bo("sn", cls == _SNAP, F.array(F.array(cx + 0.03, cy + 0.04),
                                          F.array(cx + 0.6 * CELL, cy + 0.7 * CELL)))
    cross = bo("cx", (cls == _CROSS) & (ci < n - 1),
               F.array(F.array(cx + 0.6 * CELL, cy + 0.5 * CELL),
                       F.array(cx + 1.4 * CELL, cy + 0.5 * CELL)))
    arcs = (vert.select(ROAD_COLS).unionByName(horiz.select(ROAD_COLS))
            .unionByName(snap.select(ROAD_COLS)).unionByName(cross.select(ROAD_COLS)))

    ids = np.arange(n * n, dtype=np.int64)
    c = _stub_class(ids, seed)
    is_snap = c == _SNAP
    is_cross = (c == _CROSS) & (ids % n < n - 1)
    truths = {
        "arcs": 2 * (n + 1) * n + int(is_snap.sum()) + int(is_cross.sum()),
        "snapped": int(is_snap.sum()),
        # a crossing stub and the wall it crosses are both flagged
        "v303": 2 * int(is_cross.sum()),
        # the snapped stubs are dead ends: the grid alone makes the faces
        "faces": n * n,
    }
    return arcs, truths


def images(n: int, seed: int) -> pd.DataFrame:
    """Metadata-only image table (synth.make_images: 20% of rows in 5 hot
    cells, 5% exact-duplicate phashes, tile-edge straddlers)."""
    return make_images(n, seed=seed, with_bytes=False, fast_ids=True).drop(columns=["bytes"])


def boundaries(seed: int, res: int = 4) -> pd.DataFrame:
    """Jittered convex quads that partition the whole domain."""
    return make_boundaries(res=res, seed=seed)


def dup_pairs(img: pd.DataFrame) -> pd.DataFrame:
    """Planted near-duplicate image pairs: every pair of rows sharing a
    phash (hamming 0), as (a_id < b_id)."""
    g = img[img.duplicated("phash", keep=False)][["image_id", "phash"]]
    m = g.merge(g, on="phash")
    m = m[m.image_id_x < m.image_id_y]
    return pd.DataFrame({"a_id": m.image_id_x.to_numpy(), "b_id": m.image_id_y.to_numpy()})


def points(n: int, seed: int) -> pd.DataFrame:
    """Dimension-sized right side for knn/distance joins: r_id, rx, ry."""
    from egp_crn_spark.config import EXTENT

    rng = np.random.default_rng(seed + 101)
    return pd.DataFrame({"r_id": np.arange(n, dtype=np.int64),
                         "rx": rng.uniform(0, EXTENT, n), "ry": rng.uniform(0, EXTENT, n)})


def pyramid_images(spark, n: int, seed: int):
    """Bytes-bearing image table: n uniform phashes, one 16x16 PNG each."""
    def encode(it):
        from egp_crn_spark.functions.imagecodec import encode_image
        for pdf in it:
            px = [encode_image(np.full((16, 16, 3), int(i) % 251, np.uint8), "png")
                  for i in pdf["image_id"]]
            yield pd.DataFrame({"image_id": pdf["image_id"], "phash": pdf["phash"],
                                "bytes": px})

    mod = F.lit(1 << 32)
    return (spark.range(n).select(
        F.col("id").alias("image_id"),
        F.shiftleft(F.pmod(F.xxhash64("id", F.lit(2 * seed + 1)), mod), 32)
        .bitwiseOR(F.pmod(F.xxhash64("id", F.lit(2 * seed + 2)), mod))
        .cast("long").alias("phash"))
        .mapInPandas(encode, "image_id long, phash long, bytes binary"))


def docs(n: int, seed: int, vocab: int = 5000, words: int = 30):
    """Near-duplicate text corpus. Docs come in clusters of ten: slot 0 is
    a base text, slot 1 its exact copy, slot 2 the base with one word
    replaced, slots 3-9 unrelated. 30% of docs open with one shared
    six-word boilerplate prefix (hot shingles). Returns (frame, pairs)
    where pairs holds the three planted pairs of every cluster."""
    rng = np.random.default_rng(seed + 202)
    toks = rng.integers(0, vocab, size=(n, words))
    base = np.arange(n) - np.arange(n) % 10
    slot = np.arange(n) % 10
    toks[slot == 1] = toks[base[slot == 1]]
    edit = slot == 2
    toks[edit] = toks[base[edit]]
    toks[edit, words // 2] = vocab + rng.integers(0, vocab, int(edit.sum()))
    prefix = rng.random(n) < 0.3
    prefix[slot == 1] = prefix[base[slot == 1]]
    prefix[edit] = prefix[base[edit]]
    text = [("the quick survey of road layers " if p else "") + " ".join(f"w{t}" for t in row)
            for p, row in zip(prefix, toks)]
    frame = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": text})
    b = np.arange(0, n - 2, 10, dtype=np.int64)
    pairs = pd.DataFrame({"a_id": np.concatenate([b, b, b + 1]),
                          "b_id": np.concatenate([b + 1, b + 2, b + 2])})
    return frame, pairs


def vectors(spark, n: int, seed: int, dim: int = 32, clusters: int = 64,
            noise: float = 0.45):
    """Clustered embedding corpus (synth.synth_vectors' shape, seeded):
    vec = latent centre of (vec_id % clusters) + uniform noise."""
    def u(col, d):
        return (F.pmod(F.xxhash64(col, F.lit(d), F.lit(seed)), F.lit(2_000_001))
                .cast("double") / 1_000_000.0 - 1.0)

    cl = (F.col("vec_id") % clusters) * 7 + 3
    vec = F.array(*[u(cl, d) + F.lit(noise) * u(F.col("vec_id"), d) for d in range(dim)])
    return (spark.range(n).withColumnRenamed("id", "vec_id")
            .select("vec_id", vec.alias("embedding")))
