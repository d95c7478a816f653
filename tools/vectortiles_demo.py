"""Vector-tile pipeline demo: 500k road-like arcs → per-zoom tiles.

Generates a road-shaped corpus (short localized polylines — the
reference's CRN arcs, not the driver demo's domain-spanning session
paths), then runs the full vector pipeline at two zooms: Douglas–
Peucker generalization at the zoom's one-pixel tolerance, then
per-cell clipping. Verifies the length-conservation invariant in
aggregate (sum of piece lengths == sum of simplified-arc lengths) and
reports throughput + tile fan-out. Writes BENCH/VECTORTILES.md.

Usage: python tools/vectortiles_demo.py [n_arcs] [out_md]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from egp_crn_spark.functions.geomexpr import line_length
from egp_crn_spark.operators.generalize import (simplify_lines,
                                                zoom_tolerance)
from egp_crn_spark.operators.vectortiles import vector_tiles
from egp_crn_spark.session import get_session

VERTS = 12


def make_arcs(spark, n):
    """Deterministic localized random-walk arcs (~road scale: total
    extent a few hundred units on the 65,536-unit domain)."""

    def gen(it):
        for pdf in it:
            ids, verts = [], []
            for i in pdf["id"]:
                rng = np.random.default_rng(int(i))
                start = rng.uniform(1000.0, 64000.0, 2)
                steps = rng.normal(0.0, 60.0, (VERTS - 1, 2))
                line = np.vstack([start, start + np.cumsum(steps, axis=0)])
                ids.append(int(i))
                verts.append([list(p) for p in line])
            out = pd.DataFrame({"arc_id": ids})
            out["vertices"] = pd.Series(verts, dtype=object)
            yield out

    return (spark.range(n).repartition(64)
            .mapInPandas(gen, "arc_id long, vertices array<array<double>>"))


def main(n=500_000, out_md="BENCH/VECTORTILES.md"):
    spark = get_session("vectortiles-demo")
    arcs_path = "/tmp/vt_demo_arcs"
    if not os.path.isdir(arcs_path):
        make_arcs(spark, n).write.mode("overwrite").parquet(arcs_path)
    arcs = spark.read.parquet(arcs_path)
    arcs.limit(1000).count()  # warm worker pool

    lines = ["# Vector tiles — 500k road-like arcs, per-zoom pipeline",
             "",
             f"{n:,} localized random-walk arcs ({VERTS} vertices each), "
             f"local[{spark.sparkContext.defaultParallelism}]. Pipeline "
             "per zoom: Douglas–Peucker at the zoom's one-pixel "
             "tolerance → per-cell Liang–Barsky clip + stitch.",
             "",
             "| zoom res | simplify+clip wall | pieces | tiles touched |"
             " arcs/s | length conserved |",
             "|---|---|---|---|---|---|"]
    for res in (8, 10):
        t0 = time.time()
        simp = simplify_lines(arcs, zoom_tolerance(res))
        tiles = vector_tiles(simp, res)
        agg = tiles.agg(
            F.count("*").alias("pieces"),
            F.approx_count_distinct("tile").alias("tiles"),
            F.sum(line_length(F.col("vertices"))).alias("len")).first()
        wall = time.time() - t0
        want = simplify_lines(arcs, zoom_tolerance(res)).agg(
            F.sum(line_length(F.col("vertices")))).first()[0]
        ok = abs(agg["len"] - want) <= 1e-6 * want
        lines.append(
            f"| {res} | {wall:.1f}s | {agg['pieces']:,} | "
            f"{agg['tiles']:,} | {n/wall:,.0f} | "
            f"{'EQUAL' if ok else f'MISMATCH {agg_len}-{want}'} |")
        assert ok, (res, agg["len"], want)
    lines += [
        "",
        "Length conservation is exact in aggregate (|Δ| ≤ 1e-6 rel): the "
        "clip inserts boundary points and never drops or double-counts a "
        "sub-segment. The kernel is O(vertices + pieces) per arc — "
        "per-segment cell assignment + stitch, never "
        "O(vertices × cells-spanned) — and as of r9 it is vectorized end "
        "to end: segments flatten into numpy arrays, Liang–Barsky "
        "parameters compute for every (segment, cell) pair at once, "
        "stitching is index arithmetic, and pieces emit as Arrow "
        "ListArrays built from offset arrays (no per-piece Python "
        "lists). Remaining per-zoom cost is dominated by the per-arc "
        "Douglas–Peucker recursion in simplify_lines.",
    ]
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    spark.stop()


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    out = sys.argv[2] if len(sys.argv) > 2 else "BENCH/VECTORTILES.md"
    main(n, out)
