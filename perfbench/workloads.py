"""The two benchmark workloads. Each is a closed loop with one client:
``run_pass`` rebuilds every DataFrame from the committed input tables,
calls each operator once, materializes its output through an
order-insensitive checksum over all output columns, and checks the
truths planted in the seeded inputs.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

from pyspark.sql import functions as F

from egp_crn_spark.functions import cells as C
from egp_crn_spark.functions import geomexpr as GX
from egp_crn_spark.functions.georef import phash_x, phash_y
from egp_crn_spark.operators import meshblock as MB
from egp_crn_spark.operators.dedup import dedup_minhash_lsh
from egp_crn_spark.operators.images import phash_near_dup
from egp_crn_spark.operators.lineage import partition_lineage
from egp_crn_spark.operators.pyramid import base_tiles, rollup_level
from egp_crn_spark.operators.similarity import (brute_force_topk, ivf_assign, ivf_probe,
                                                train_centroids)
from egp_crn_spark.operators.snap import snap_nodes
from egp_crn_spark.operators.snapsuggest import snapsuggest_release
from egp_crn_spark.operators.spatial_join import (distance_join, knn_join,
                                                  point_in_polygon_join)
from egp_crn_spark.operators.standardize import standardize
from egp_crn_spark.operators.validate import validate_release, validate_topology
from egp_crn_spark.sources.tables import load_table, save_table

from . import gen

_MASK = (1 << 28) - 1


def digest(df, **aggs):
    """Materialize ``df`` in one action: row count plus an xor and a sum
    of per-row xxhash64 over every column, so the result is independent
    of row order and partitioning. ``aggs`` adds named aggregate Columns
    to the same action."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn("_h", h).agg(
        F.count(F.lit(1)).alias("rows"), F.bit_xor("_h").alias("xor"),
        F.sum(F.col("_h").bitwiseAND(_MASK)).alias("sum"),
        *[e.alias(k) for k, e in aggs.items()]).first().asDict()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


class Workload:
    """Shared harness: operator spans, output checks, layer commits."""

    name = ""

    def __init__(self, spark, tracer, work: str, seed: int, cpus: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.attempted = 0
        self.failed: list[str] = []
        self.first_digest: dict[str, tuple] = {}
        self.out_rows: dict[str, int] = {}
        self.written = [0, 0]  # bytes, files committed this pass
        self.input_rows = 0
        self.input_bytes = 0

    # ---------------------------------------------------------- set-up
    def commit_input(self, name: str, df) -> None:
        path = os.path.join(self.work, "inputs", name)
        save_table(df, path)
        b, _ = dir_bytes(path)
        self.input_bytes += b

    def load(self, name: str, layer: bool = False):
        sub = "layers" if layer else "inputs"
        with self.tracer.span("sources.load"):
            return load_table(self.spark, os.path.join(self.work, sub, name))

    # ---------------------------------------------------------- per pass
    def op(self, name: str, build, check=None, commit: str | None = None, cell=None,
           **aggs):
        """One operator call: construct (``build()`` returns the
        DataFrame; any driver-side work it does counts here), then
        execute: materialize through a checksum, or commit as a layer
        through ``sources`` and reload it. A committed layer is checked
        at the end of the pass, from its lineage rows. Returns the output
        DataFrame (the reloaded layer when committed), or None when the
        call raised or failed its check."""
        self.attempted += 1
        try:
            with self.tracer.span(name, group=f"{name}#{self.pass_no}", kind="op"):
                with self.tracer.span("construct"):
                    df = build()
                with self.tracer.span("execute"):
                    if commit:
                        path = os.path.join(self.work, "layers", commit)
                        with self.tracer.span("sources.save"):
                            save_table(df, path)
                        self.written_paths.append(path)
                        out = self.load(commit, layer=True)
                        self.pending.append((name, commit, out, cell, check, aggs))
                        return out
                    res = digest(df, **aggs)
        except Exception:  # a raising operator is a failed call, not a crash
            print(f"[perfbench] {name} raised:", file=sys.stderr)
            traceback.print_exc()
            self.failed.append(name)
            return None
        return df if self._verify(name, res, check) else None

    def _verify(self, key, res, check) -> bool:
        """Apply the call's check, and require the same digest as the
        first pass (same inputs, same output)."""
        self.out_rows[key] = res["rows"]
        try:
            ok = check(res) if check else True
        except Exception:
            print(f"[perfbench] {key} check raised:", file=sys.stderr)
            traceback.print_exc()
            ok = False
        sig = (res["rows"], res["xor"], res["sum"])
        if self.first_digest.setdefault(key, sig) != sig:
            print(f"[perfbench] {key}: output changed between passes", file=sys.stderr)
            ok = False
        if not ok:
            self.failed.append(key)
            print(f"[perfbench] {key} failed its check: {res}", file=sys.stderr)
        return ok

    def commit_lineage(self) -> None:
        """Lineage of every layer this pass committed — per cell: row
        count and order-insensitive checksum (operators.lineage) — plus
        the layers' check aggregates, in one query. The rows are then
        committed as one lineage table and each layer is checked."""
        if not self.pending:
            return
        with self.tracer.span("sources.lineage", kind="lineage"):
            parts = []
            for _key, name, layer, cell, _check, aggs in self.pending:
                lin = partition_lineage(layer.withColumn(
                    "cell_id", cell if cell is not None else F.lit(0)), "cell_id")
                parts.append(lin.select(F.lit(name).alias("layer"), "cell_id", "row_count",
                                        "checksum", F.lit(None).cast("string").alias("agg"),
                                        F.lit(None).cast("double").alias("value")))
                for k, e in aggs.items():
                    parts.append(layer.agg(e.cast("double").alias("value")).select(
                        F.lit(name).alias("layer"), F.lit(None).cast("long").alias("cell_id"),
                        F.lit(None).cast("long").alias("row_count"),
                        F.lit(None).cast("string").alias("checksum"),
                        F.lit(k).alias("agg"), "value"))
            rows = parts[0]
            for part in parts[1:]:
                rows = rows.unionByName(part)
            rows = rows.collect()
            path = os.path.join(self.work, "layers", "_lineage")
            lineage = [r for r in rows if r.agg is None]
            with self.tracer.span("sources.save"):
                save_table(self.spark.createDataFrame(
                    [(r.layer, r.cell_id, r.row_count, r.checksum) for r in lineage],
                    "layer string, cell_id long, row_count long, checksum string")
                    .withColumn("batch_id", F.lit(self.pass_no).cast("long")), path)
            self.written_paths.append(path)
        for key, name, _layer, _cell, check, _aggs in self.pending:
            res = {"rows": 0, "xor": 0, "sum": 0}
            for r in rows:
                if r.layer != name:
                    continue
                if r.agg is not None:
                    res[r.agg] = r.value
                else:
                    res["rows"] += r.row_count
                    res["xor"] ^= int(r.checksum, 16)
                    res["sum"] += int(r.checksum, 16) & _MASK
            self._verify(key, res, check)

    def run_pass(self, pass_no: int) -> None:
        self.pass_no = pass_no
        self.pending = []
        self.written_paths = []
        self.cached = []
        try:
            self.body()
            self.commit_lineage()
            sizes = [dir_bytes(p) for p in self.written_paths]
            self.written = [sum(b for b, _ in sizes), sum(f for _, f in sizes)]
        finally:
            self.cleanup()

    def cleanup(self) -> None:
        """Pass isolation: free caches and this pass's layers."""
        validate_release()
        snapsuggest_release()
        for df in self.cached:
            df.unpersist(blocking=True)
        shutil.rmtree(os.path.join(self.work, "layers"), ignore_errors=True)

    def keep(self, df):
        df = df.cache()
        self.cached.append(df)
        return df


def _start_cell():
    p = GX.start_point(F.col("vertices"))
    return C.cell_of_xy(F.element_at(p, 1), F.element_at(p, 2), 2)


class CrnQa(Workload):
    """The front of the reference's QA pipeline over a seeded road world;
    every stage is committed as a layer."""

    name = "crn_qa"
    N = 20

    def setup(self) -> None:
        arcs, self.truth = gen.road_world(self.spark, self.N, self.seed)
        self.commit_input("roads", arcs.repartition(self.cpus))
        self.input_rows = self.truth["arcs"]

    def body(self) -> None:
        t = self.truth
        raw = self.load("roads")
        cell = _start_cell()
        std = self.op("standardize", lambda: standardize(raw), commit="std", cell=cell,
                      check=lambda r: r["rows"] == t["arcs"])
        start = GX.start_point(F.col("vertices"))
        on_node = ((F.element_at(start, 1) % gen.CELL == 0)
                   & (F.element_at(start, 2) % gen.CELL == 0) & (F.col("segment_type") == 2))
        snapped = self.op("snap_nodes", lambda: snap_nodes(std), commit="snapped", cell=cell,
                          snapped=F.sum(on_node.cast("int")),
                          check=lambda r: r["snapped"] == t["snapped"])
        self.op("validate_topology", lambda: validate_topology(snapped), commit="topo",
                v303=F.sum("v303"),
                check=lambda r: r["v303"] == t["v303"])
        self.op("polygonize_meshblock", lambda: MB.polygonize_meshblock(snapped, tile_res=6),
                commit="faces", cell=cell, check=lambda r: r["rows"] == t["faces"])


class Images(Workload):
    """Everything over one seeded image table, plus a doc corpus and a
    vector corpus: the read-mostly map stack (tile assignment,
    point-in-polygon, grid-kernel joins, raster pyramid), then hash-bucket
    dedup and IVF serving (aggregation, collect_list, hot-bucket caps,
    hashing; no geometry). Dedup recall is measured against pairs planted
    by the generators and, for IVF, against the exact top-k from
    brute_force_topk, computed once during set-up."""

    name = "images"
    N_IMAGES = 30_000
    N_PYRAMID = 1_000
    N_POINTS = 2_000
    RADIUS = 200.0
    N_DOCS = 6_000
    N_VECS = 5_000
    N_QUERIES = 50
    NCELLS = 32
    K = 10

    def setup(self) -> None:
        spark, seed = self.spark, self.seed
        img = gen.images(self.N_IMAGES, seed)
        self.commit_input("images", spark.createDataFrame(img).repartition(self.cpus))
        self.commit_input("boundaries", spark.createDataFrame(gen.boundaries(seed)))
        self.commit_input("points", spark.createDataFrame(gen.points(self.N_POINTS, seed)))
        self.commit_input("pyr_images", gen.pyramid_images(spark, self.N_PYRAMID, seed)
                          .repartition(self.cpus))
        frame, pairs = gen.docs(self.N_DOCS, seed)
        self.commit_input("docs", spark.createDataFrame(frame).repartition(self.cpus))
        self.commit_input("corpus", gen.vectors(spark, self.N_VECS, seed).repartition(self.cpus))
        corpus = self.load("corpus")
        self.centroids = train_centroids(corpus, self.NCELLS)
        self.commit_input("ivf_index", ivf_assign(corpus, self.centroids, dtype="float32"))
        self.planted = {
            "images": set(gen.dup_pairs(img).itertuples(index=False, name=None)),
            "docs": set(pairs.itertuples(index=False, name=None)),
            "topk": {(r.q_id, r.n_id) for r in
                     brute_force_topk(self.queries(corpus), corpus, k=self.K).collect()},
        }
        self.input_rows = (self.N_IMAGES + 256 + self.N_POINTS + self.N_PYRAMID
                           + self.N_DOCS + self.N_VECS)

    def queries(self, corpus):
        step = self.N_VECS // self.N_QUERIES
        return corpus.filter(F.col("vec_id") % step == 0).select(
            F.col("vec_id").alias("q_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("qv"))

    def recall(self, planted: str, floor: float):
        """Check: the share of the planted pairs found is at least
        ``floor``. The output's pairs ride the digest action."""
        truth = self.planted[planted]
        return lambda r: len(truth & {tuple(p) for p in r["pairs"]}) >= floor * len(truth)

    def body(self) -> None:
        self.tiling()
        self.dedup_ann()

    def tiling(self) -> None:
        n = self.N_IMAGES
        images = self.load("images")
        pts = images.select("image_id", phash_x(F.col("phash")).alias("x"),
                            phash_y(F.col("phash")).alias("y"))

        def tile_assign():
            cell10 = C.cell_of_xy(F.col("x"), F.col("y"), 10)
            return (pts.select("image_id", cell10.alias("cell10"),
                               C.parent_cell(cell10, 10, 4).alias("tile"))
                    .groupBy("tile").agg(F.count("*").alias("n"),
                                         F.approx_count_distinct("cell10").alias("cells")))
        self.op("tile_assign", tile_assign, total=F.sum("n"),
                check=lambda r: r["total"] == n)

        polys = self.load("boundaries").select(F.col("bb_uid").alias("poly_id"), "vertices")
        self.op("point_in_polygon_join",
                lambda: point_in_polygon_join(pts.withColumnRenamed("image_id", "p_id"),
                                              polys, res=6, broadcast_polys=True),
                points=F.countDistinct("p_id"), check=lambda r: r["points"] == n)

        left = pts.select(F.col("image_id").alias("l_id"), F.col("x").alias("lx"),
                          F.col("y").alias("ly"))
        right = self.load("points")
        near = {}

        def keep_near(r):
            near["l_ids"] = r["l_ids"]
            return r["max_dist"] is None or r["max_dist"] <= self.RADIUS
        self.op("distance_join",
                lambda: distance_join(left, right, self.RADIUS, broadcast_right=True),
                l_ids=F.countDistinct("l_id"), max_dist=F.max("dist"), check=keep_near)
        self.op("knn_join",
                lambda: knn_join(left, right, k=1, max_distance=self.RADIUS,
                                 broadcast_right=True),
                check=lambda r: r["rows"] == near.get("l_ids"))

        npyr = self.N_PYRAMID
        lvl = self.op("base_tiles",
                      lambda: self.keep(base_tiles(self.load("pyr_images"), 7, tile_px=8)),
                      src=F.sum("n_src"), check=lambda r: r["src"] == npyr)
        self.op("rollup_level", lambda: self.keep(rollup_level(lvl, tile_px=8)),
                src=F.sum("n_src"), check=lambda r: r["src"] == npyr)

    def dedup_ann(self) -> None:
        images = self.load("images")
        self.op("phash_near_dup",
                lambda: phash_near_dup(images, max_hamming=2, max_bucket=200),
                pairs=F.collect_list(F.when(F.col("hamming") == 0,
                                            F.struct("a_id", "b_id"))),
                check=self.recall("images", 1.0))
        docs = self.load("docs")
        self.op("dedup_minhash_lsh",
                lambda: dedup_minhash_lsh(docs, num_hashes=8, bands=4, threshold=0.5,
                                          use_md5=False),
                pairs=F.collect_list(F.struct("a_id", "b_id")),
                check=self.recall("docs", 0.9))
        corpus = self.load("corpus")
        self.op("ivf_probe",
                lambda: ivf_probe(self.queries(corpus), self.load("ivf_index"),
                                  self.centroids, k=self.K, nprobe=8),
                pairs=F.collect_list(F.struct("q_id", "n_id")),
                check=self.recall("topk", 0.9))


WORKLOADS = {w.name: w for w in (CrnQa, Images)}
