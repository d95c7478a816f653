"""Physical-plan audit of the headline operators → BENCH/PLANS.md.

Captures the executed-plan invariants the engine's scale story depends
on, as greppable assertions over `explain` output (the same invariants
tests/test_plans.py enforces, here rendered into one reviewable doc):

- scans prune columns and push filters (ReadSchema / PushedFilters);
- cell/georef arithmetic stays inside whole-stage codegen — the ONLY
  Python stages are the exact-refinement kernels;
- joins key on bigint cells; dimension sides broadcast;
- the round-3 validation path ships no vertex arrays through the
  candidate shuffle (fast-path predicate fused into the join condition).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from egp_crn_spark.config import env_cpus  # noqa: E402
from egp_crn_spark.functions import cells as C  # noqa: E402
from egp_crn_spark.functions.georef import phash_x, phash_y  # noqa: E402
from egp_crn_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def audit(name, df, wants, forbids, notes):
    df.collect()  # materialize THIS plan so AQE finalizes + codegen appears
    plan = plan_of(df)
    results = []
    for label, pat in wants:
        ok = re.search(pat, plan) is not None
        results.append((label, "yes" if ok else "**MISSING**", ok))
    for label, pat in forbids:
        hit = re.search(pat, plan) is not None
        results.append((label, "**PRESENT**" if hit else "absent (good)", not hit))
    n_python = len(re.findall(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas",
        plan))
    return {"name": name, "results": results, "n_python_ops": n_python,
            "notes": notes, "ok": all(r[2] for r in results)}


def main() -> None:
    spark = get_session("plan-audit", cores=env_cpus())
    arcs_pdf = pd.DataFrame({
        "segment_id": [f"s{i}" for i in range(4)],
        "vertices": [[[float(i), 0.0], [float(i) + 10.0, 0.0]] for i in range(4)],
    })
    arcs_path = "/tmp/plan_audit_arcs"
    spark.createDataFrame(arcs_pdf).write.mode("overwrite").parquet(arcs_path)
    arcs = spark.read.parquet(arcs_path)
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    audits = []

    # 1) cell assignment: pure codegen, pruned scan
    pts = events.select(
        "event_id",
        phash_x(F.xxhash64("event_id")).alias("x"),
        phash_y(F.xxhash64("event_id")).alias("y"),
    )
    assign = pts.select(C.cell_of_xy(F.col("x"), F.col("y"), 10).alias("cell"))
    audits.append(audit(
        "cell_assignment (georef + Morton encode)", assign,
        wants=[("whole-stage codegen", r"\*\(\d+\)"),
               ("pruned scan (event_id only)", r"ReadSchema:[^\n]*event_id")],
        forbids=[("any Python stage", r"EvalPython|InPandas")],
        notes="phash→(x,y)→cell is ~10 bit ops per row inside one codegen stage.",
    ))

    # 2) validation pair candidates: no arrays in the shuffle, fused fast path
    from egp_crn_spark.operators.validate import (_arc_candidate_pairs,
                                                  _seg_cross_col, v303_crosses)
    cand = _arc_candidate_pairs(arcs, 10, "segment_id", "vertices")
    audits.append(audit(
        "v202/v303 pair candidates (column-pruned cell self-join)",
        cand.filter(_seg_cross_col()),
        wants=[("join keyed on _cell", r"\[_cell#\d+L\]")],
        forbids=[("vertex arrays in candidate columns", r"averts|bverts"),
                 ("any Python stage", r"EvalPython|InPandas")],
        notes="Candidates carry ids + endpoints + bbox only; the "
              "single-segment crossing predicate is fused into the join "
              "condition — zero Python until multi-vertex refinement.",
    ))

    # 3) v303 end-to-end: exactly one Python stage (the slow-pair kernel)
    audits.append(audit(
        "v303_crosses (full)", v303_crosses(arcs),
        wants=[("multi-vertex refine kernel", r"MapInPandas"),
               ("arrays attach per-arc via join", r"BroadcastHashJoin|SortMergeJoin")],
        forbids=[("per-row Python UDF", r"BatchEvalPython")],
        notes="One MapInPandas total: the refine stage `_pair_flags` runs "
              "for 202 and 303 alike, and fast-path hits ride through it "
              "as pass-throughs, so the cell join has a single consumer.",
    ))

    # 3b) validate_topology: 202 and 303 share that one refine stage
    from egp_crn_spark.operators.validate import (validate_release,
                                                  validate_topology)
    try:
        audits.append(audit(
            "validate_topology (all seven codes)", validate_topology(arcs),
            wants=[("exactly one MapInPandas (final plan)",
                    r"== Final Plan ==(?:(?!MapInPandas)[\s\S])*MapInPandas"
                    r"(?:(?!MapInPandas)[\s\S])*== Initial Plan ==")],
            forbids=[("per-row Python UDF", r"BatchEvalPython"),
                     ("cartesian product", r"CartesianProduct")],
            notes="v202 and v303 share one candidate set and one refine "
                  "stage; the other Python stage is v101's scalar pandas "
                  "UDF over the few arcs that may be non-simple.",
        ))
    finally:
        validate_release()

    # 4) distance join: bigint-cell equi-join, pure Column refine
    from egp_crn_spark.operators.spatial_join import distance_join
    left = events.select(F.col("event_id").alias("l_id"),
                         phash_x(F.xxhash64("event_id")).alias("lx"),
                         phash_y(F.xxhash64("event_id")).alias("ly"))
    right = events.select(F.col("event_id").alias("r_id"),
                          phash_x(F.xxhash64("event_id", "event_id")).alias("rx"),
                          phash_y(F.xxhash64("event_id", "event_id")).alias("ry"))
    audits.append(audit(
        "distance_join (k-ring equi-join)", distance_join(left, right, 400.0),
        wants=[("join keyed on _cell", r"\[_cell#\d+L\]"),
               ("whole-stage codegen", r"\*\(\d+\)")],
        forbids=[("any Python stage", r"EvalPython|InPandas"),
                 ("cartesian product", r"CartesianProduct")],
        notes="Exact euclidean filter is Column algebra in the join stage.",
    ))

    # 5) minhash LSH: JVM-only signatures + banded bucket join
    from egp_crn_spark.operators.dedup import dedup_minhash_lsh
    audits.append(audit(
        "minhash_lsh (banded near-dup)",
        dedup_minhash_lsh(docs, num_hashes=8, bands=4, threshold=0.5, use_md5=False),
        wants=[("whole-stage codegen", r"\*\(\d+\)")],
        forbids=[("any Python stage", r"EvalPython|InPandas"),
                 ("cartesian product", r"CartesianProduct")],
        notes="Signatures via explode + min-agg; candidates via band-bucket "
              "equi-join; verify via exact jaccard — all Column.",
    ))

    # 6) phash near-dup: banded hamming, all JVM (planted 1-bit partners,
    # else AQE's empty-relation propagation erases the whole plan)
    from egp_crn_spark.operators.images import phash_near_dup
    imgs = events.select(
        F.explode(F.array(
            F.struct(F.concat(F.lit("o"), "event_id").alias("image_id"),
                     F.xxhash64("event_id").alias("phash")),
            F.struct(F.concat(F.lit("d"), "event_id").alias("image_id"),
                     F.xxhash64("event_id").bitwiseXOR(F.lit(4)).alias("phash")),
        )).alias("r")
    ).select("r.image_id", "r.phash")
    audits.append(audit(
        "phash_near_dup (image hamming)", phash_near_dup(imgs),
        wants=[("whole-stage codegen", r"\*\(\d+\)")],
        forbids=[("any Python stage", r"EvalPython|InPandas"),
                 ("cartesian product", r"CartesianProduct")],
        notes="Pigeonhole band buckets + bit_count(xor) verify — pure Column.",
    ))

    # 7) IVF probe: probe side broadcasts; the corpus index is NEVER
    # sort-merge-shuffled (the matmul quantizer's mapInArrow output has
    # unknown size stats — without ivf_probe's explicit hint Catalyst
    # shuffled the whole index; this pins the fix)
    import numpy as np

    from egp_crn_spark.operators.similarity import ivf_assign, ivf_probe

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rng = np.random.default_rng(3)
    Cm = rng.standard_normal((32, 64))
    Cm /= np.linalg.norm(Cm, axis=1, keepdims=True)
    q = emb.filter("vec_id % 100 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    audits.append(audit(
        "ivf_probe (ANN serving join)",
        ivf_probe(q, ivf_assign(emb, Cm), Cm, k=3, nprobe=4),
        wants=[("probe side broadcasts", r"BroadcastHashJoin")],
        forbids=[("index sort-merge-shuffled", r"SortMergeJoin"),
                 ("cartesian product", r"CartesianProduct")],
        notes="Query batches broadcast into the cell equi-join; the "
              "10^9-row-shaped index side is never shuffled (and on a "
              "bucketed table the probe is exchange-free end to end).",
    ))

    # 8) pair candidates: the topology self-join takes the SHUFFLE_HASH
    # hint (skips both SMJ sort passes — measured 1.3x at 2M arcs); at
    # audit size the input must be big enough that AQE does not demote
    # the join to broadcast, so the hint's physical form is visible
    from egp_crn_spark.operators.validate import _arc_candidate_pairs

    big_arcs = spark.range(100_000).select(
        F.concat(F.lit("s"), F.col("id")).alias("segment_id"),
        F.array(
            F.array((F.pmod(F.xxhash64("id"), F.lit(60000)) + 1000).cast("double"),
                    (F.pmod(F.xxhash64("id", "id"), F.lit(60000)) + 1000).cast("double")),
            F.array((F.pmod(F.xxhash64("id"), F.lit(60000)) + 1040).cast("double"),
                    (F.pmod(F.xxhash64("id", "id"), F.lit(60000)) + 1000).cast("double")),
        ).alias("vertices"))
    audits.append(audit(
        "arc pair candidates (topology self-join)",
        _arc_candidate_pairs(big_arcs, 10, "segment_id", "vertices",
                             with_checksum=True).groupBy().count(),
        wants=[("shuffle-hash join (no sorts)", r"ShuffledHashJoin")],
        forbids=[("sort-merge join", r"SortMergeJoin"),
                 ("any Python stage", r"EvalPython|InPandas"),
                 ("cartesian product", r"CartesianProduct")],
        notes="Both cover sides hash-join on the bigint cell without the "
              "two sort passes SMJ would add; checksum columns ride the "
              "cover rows (no join-back shuffle).",
    ))

    # 9) v302 small-deadend serving shape: with the measured deadend
    # count under the bound, BOTH deadend sides broadcast — the arc side
    # (the 100-TB side) is never shuffled in the distance or
    # connectivity join
    from egp_crn_spark.operators.validate import v302_min_distance

    audits.append(audit(
        "v302 min-distance (small-deadend broadcast path)",
        v302_min_distance(arcs),
        wants=[("deadend sides broadcast", r"BroadcastHashJoin")],
        forbids=[("arc side shuffled on cell", r"SortMergeJoin \[_cell"),
                 ("vertex side shuffled on node", r"SortMergeJoin \[node#"),
                 ("per-row Python UDF", r"BatchEvalPython"),
                 ("cartesian product", r"CartesianProduct")],
        notes="Bound-enforced (join_hint counts the deadends): the "
              "point side of the dilated-bbox distance join and the "
              "endpoint side of the connectivity join broadcast — the "
              "arc/vertex side is never shuffled on the cell or node key "
              "(the tiny pair-level set subtraction may still SMJ; it is "
              "bounded by the deadend count). Pathological all-deadend "
              "inputs get shuffled hash joins.",
    ))

    # 10) IVF-PQ compressed serving: probes broadcast, the index is
    # never sort-merge-shuffled, Python confined to the quantizer + ADC
    import numpy as np

    from egp_crn_spark.operators.similarity import (ivf_pq_assign,
                                                    ivf_pq_probe)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    prng = np.random.default_rng(3)
    Cq = prng.standard_normal((32, 64))
    Cq /= np.linalg.norm(Cq, axis=1, keepdims=True)
    Bq = prng.standard_normal((8, 256, 8)) * 0.05
    pq_index = ivf_pq_assign(emb, Cq, Bq)
    pq_queries = emb.filter("vec_id % 100 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    audits.append(audit(
        "ivf_pq_probe (compressed ANN serving, ADC + exact refine)",
        ivf_pq_probe(pq_queries, pq_index, Cq, Bq, k=3, nprobe=4,
                     refine_corpus=emb),
        wants=[("probe side broadcast", r"BroadcastHashJoin")],
        forbids=[("index sort-merge-shuffled", r"SortMergeJoin"),
                 ("per-row Python UDF", r"BatchEvalPython"),
                 ("cartesian product", r"CartesianProduct")],
        notes="The 10.8x-compressed index streams through the broadcast "
              "candidate join and the ADC mapInArrow kernel; the exact "
              "refine equi-join touches k x refine_mult finalists only "
              "and both its sides avoid sort-merge exchanges.",
    ))

    # 11) Z-order pruned read: the predicate is planned from manifest
    # stats (file list already pruned before Spark sees it) and the
    # residual filter pushes into the parquet scan
    from egp_crn_spark.operators.cluster import zorder_cluster
    from egp_crn_spark.sources.snaplog import SnapshotLogTable

    zt = SnapshotLogTable(spark, "/tmp/plan_audit_zorder")
    if zt.current_snapshot_id() is None:
        zpts = spark.range(100_000).select(
            F.col("id").alias("pid"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(65536))
            .cast("double").alias("x"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(65536))
            .cast("double").alias("y"))
        zt.overwrite(zorder_cluster(zpts, "x", "y", num_files=16))
    zw = [("x", ">=", 1000.0), ("x", "<=", 9000.0),
          ("y", ">=", 1000.0), ("y", "<=", 9000.0)]
    n_planned = len(zt.plan_files(None, zw))
    audits.append(audit(
        f"zorder pruned read ({n_planned}/16 files planned from stats)",
        zt.read(where=zw),
        wants=[("residual filter pushed to scan",
                r"PushedFilters: \[.*GreaterThanOrEqual\(x"),
               ("column-pruned scan", r"ReadSchema: [^\n]*pid")],
        forbids=[("any exchange in a pure read", r"Exchange"),
                 ("any Python stage",
                  r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow")],
        notes=f"Manifest stats pruned the file list to {n_planned}/16 "
              "BEFORE plan time (metadata-only); the same predicate "
              "then pushes into the parquet scan as the residual — two "
              "independent skipping layers, zero exchanges, zero Python.",
    ))

    # 12) pyramid rollup level: one hash exchange on parent, then one
    # vectorized mapInPandas fold over the locally sorted children
    from egp_crn_spark.operators.pyramid import base_tiles, rollup_level
    from egp_crn_spark.synth import write_fixtures

    fx = "/tmp/plan_audit_fixtures"
    if not os.path.isdir(fx):
        write_fixtures(fx, n_images=800, seed=42)
    pimg = spark.read.parquet(f"{fx}/images.parquet")
    audits.append(audit(
        "tile pyramid rollup (one level)",
        rollup_level(base_tiles(pimg, 5, 8), 8),
        wants=[("exactly one hash exchange on parent (final plan)",
                r"== Final Plan ==(?:(?!hashpartitioning\(parent)[\s\S])*"
                r"Exchange hashpartitioning\(parent#\d+L?, \d+\)"
                r"(?:(?!hashpartitioning\(parent)[\s\S])*== Initial Plan =="),
               ("vectorized mosaic fold", r"MapInPandas fold_batches"),
               ("partial map-side min_by aggregation",
                r"Aggregate[^\n]*partial_min_by")],
        forbids=[("grouped-map stage", r"FlatMapGroupsInPandas"),
                 ("per-row Python UDF", r"BatchEvalPython"),
                 ("any sort-merge join", r"SortMergeJoin"),
                 ("cartesian product", r"CartesianProduct")],
        notes="base_tiles aggregates map-side (at most one candidate "
              "row per (cell, map partition) crosses the exchange) and "
              "decodes only the per-cell survivors in one mapInPandas. "
              "The rollup hash-repartitions on parent once, sorts each "
              "partition locally, and mosaics every <=4-child group of "
              "an Arrow batch in one vectorized numpy pass "
              "(fold_batches) — no grouped-map stage, no per-group "
              "pandas dispatch.",
    ))

    # 13) vector tile pipeline: simplify → clip is two chained Arrow
    # stages with NO exchange anywhere (embarrassingly parallel)
    from egp_crn_spark.operators.generalize import simplify_lines
    from egp_crn_spark.operators.vectortiles import vector_tiles

    vt_arcs = spark.createDataFrame(
        [(i, [[float(j * 50 + i), float((j * 37) % 500)]
              for j in range(8)]) for i in range(64)],
        "arc_id long, vertices array<array<double>>")
    audits.append(audit(
        "vector tiles (simplify -> per-cell clip)",
        vector_tiles(simplify_lines(vt_arcs, 2.0), res=6),
        wants=[("DP simplify stage", r"MapInPandas"),
               ("per-cell clip stage", r"MapInArrow")],
        forbids=[("any exchange", r"Exchange"),
                 ("any join", r"Join"),
                 ("per-row Python UDF", r"BatchEvalPython")],
        notes="The whole vector-tile pipeline is map-only: DP "
              "generalization (mapInPandas) and per-segment cell clip "
              "(mapInArrow) run as chained stages over the same scan — zero shuffles, "
              "zero joins, so it scales with input splits alone.",
    ))

    all_ok = all(a["ok"] for a in audits)
    out = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(out, "w") as f:
        f.write("# Physical-plan audit — headline operators\n\n")
        f.write("Generated by tools/plan_audit.py from the EXECUTED plans "
                "(post-AQE) at sf0.01 inputs. Same invariants as "
                "tests/test_plans.py, rendered for review.\n\n")
        for a in audits:
            f.write(f"## {a['name']}\n\n")
            for label, verdict, _ in a["results"]:
                f.write(f"- {label}: {verdict}\n")
            f.write(f"- Python stages in plan: {a['n_python_ops']}\n")
            f.write(f"\n{a['notes']}\n\n")
        f.write(f"**Overall: {'ALL INVARIANTS HOLD' if all_ok else 'VIOLATIONS — see above'}**\n")
    for a in audits:
        print(("OK  " if a["ok"] else "BAD ") + a["name"], flush=True)
    print("wrote", out, flush=True)
    spark.stop()
    if not all_ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
