"""Hot-cell salting in the spatial self-join → BENCH/SKEW_JOIN.md.

BASELINE.json north_star: "Skew from dense urban cells is handled
explicitly with salted repartitioning on cell_id". This plants one
'urban' cell holding ~10% of all arcs in an otherwise uniform network,
runs the v303 crosses validation (cell self-join + refine) with and
without `salt_hot`, and reports:

- max candidate mass per JOIN KEY (the bound a single task must chew)
  before and after salting — the explicit skew metric;
- wall clock both ways;
- flag counts, which must be IDENTICAL (salting never changes pairs).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from egp_crn_spark.config import env_cpus  # noqa: E402
from egp_crn_spark.operators.validate import (  # noqa: E402
    _arc_candidate_pairs,
    v303_crosses,
)
from egp_crn_spark.session import get_session  # noqa: E402

N_COLD = int(os.environ.get("SPARK_GRAFT_SKEWJ_N", "180000"))
HOT_FRAC = 0.10
RES = 10
THRESHOLD, N_SALT = 5_000, 16


def synth(spark):
    """Uniform short horizontal arcs over the domain, plus ~10% crammed
    into ONE res-10 cell (64x64 units) where every hot arc crosses a
    planted vertical partner — a dense-urban worst case.

    Crossing pairs sit on a 100x100 lattice with 0.62 spacing (arm
    length 0.2, so neighbouring crosses NEVER touch) anchored at a cell
    origin, so the whole field lives in exactly one res-10 cell and the
    expected flag count is exact: 2 arcs per planted cross."""
    # cap the planted cell at 8k arcs: a self-join there already yields a
    # 64M-row join product in ONE task unsalted — plenty to demonstrate
    n_hot = min(int(N_COLD * HOT_FRAC / (1 - HOT_FRAC)) // 2, 4_000)
    cold = spark.range(N_COLD).select(
        F.concat(F.lit("c"), F.col("id")).alias("segment_id"),
        F.array(
            F.array((F.col("id") % 1000).cast("double") * 60.0 + 1000.0,
                    F.expr("id div 1000").cast("double") * 50.0 + 10000.0),
            F.array((F.col("id") % 1000).cast("double") * 60.0 + 1040.0,
                    F.expr("id div 1000").cast("double") * 50.0 + 10000.0),
        ).alias("vertices"),
    )
    hot = spark.range(n_hot)
    x0 = 94 * 64.0 + 0.5  # res-10 cell origin + margin
    hx = F.lit(x0) + (F.col("id") % 100).cast("double") * 0.62
    hy = F.lit(x0) + F.expr("id div 100").cast("double") * 0.62
    hot_h = hot.select(
        F.concat(F.lit("hh"), F.col("id")).alias("segment_id"),
        F.array(F.array(hx - 0.2, hy), F.array(hx + 0.2, hy)).alias("vertices"),
    )
    hot_v = hot.select(
        F.concat(F.lit("hv"), F.col("id")).alias("segment_id"),
        F.array(F.array(hx, hy - 0.2), F.array(hx, hy + 0.2)).alias("vertices"),
    )
    return cold.unionByName(hot_h).unionByName(hot_v), 2 * n_hot


def main() -> None:
    cpus = env_cpus()
    spark = get_session("spatial-skew", cores=cpus)
    net, n_hot_arcs = synth(spark)
    path = os.path.join(REPO, ".data", "skewj_v1")
    if not os.path.isdir(path):
        net.repartition(cpus * 4).write.mode("overwrite").parquet(path)
    net = spark.read.parquet(path).cache()
    n_arcs = net.count()

    def key_mass(salt_hot):
        """Candidate rows per join task key — the skew observable."""
        cand = _arc_candidate_pairs(net, RES, "segment_id", "vertices",
                                    salt_hot=salt_hot)
        prof = cand.groupBy(F.spark_partition_id().alias("p")).count()
        row = prof.agg(F.max("count").alias("mx"), F.sum("count").alias("n")).first()
        return int(row["mx"]), int(row["n"])

    def flags(salt_hot):
        t0 = time.perf_counter()
        n = v303_crosses(net, res=RES, salt_hot=salt_hot).count()
        return n, round(time.perf_counter() - t0, 2)

    mx_plain, n_cand = key_mass(None)
    mx_salt, n_cand_salt = key_mass((THRESHOLD, N_SALT))
    f_plain, t_plain = flags(None)
    f_salt, t_salt = flags((THRESHOLD, N_SALT))
    identical = f_plain == f_salt == n_hot_arcs

    print(f"arcs={n_arcs:,} (hot={n_hot_arcs:,})", flush=True)
    print(f"max-task candidates: plain={mx_plain:,}  salted={mx_salt:,}", flush=True)
    print(f"v303 flags: plain={f_plain} salted={f_salt} expected={n_hot_arcs} "
          f"({'IDENTICAL' if identical else 'MISMATCH'})", flush=True)
    print(f"wall: plain={t_plain}s salted={t_salt}s", flush=True)

    with open(os.path.join(REPO, "BENCH", "SKEW_JOIN.md"), "w") as f:
        f.write(f"""# Hot-cell salting in the spatial self-join

Generated by tools/spatial_skew_demo.py on local[{cpus}].
{n_arcs:,} arcs, of which {n_hot_arcs:,} (~{HOT_FRAC:.0%}) are planted
inside ONE res-{RES} cell (the dense-urban worst case); every hot arc
crosses exactly one planted partner.

| metric | plain cell join | salted (threshold {THRESHOLD:,}, {N_SALT} salts) |
|---|---|---|
| max candidate rows in one task | {mx_plain:,} | {mx_salt:,} |
| total candidate rows | {n_cand:,} | {n_cand_salt:,} |
| v303 flags | {f_plain:,} | {f_salt:,} |
| wall s (full v303) | {t_plain} | {t_salt} |

Flags are **{'IDENTICAL' if identical else 'DIFFERENT — BUG'}** and match
the planted ground truth ({n_hot_arcs:,}): salting only re-routes pairs
(a-side salted by xxhash64(id), b-side hot rows replicated to every
salt), it never changes which pairs meet. The skew bound is the point:
the hot cell's candidate mass now spreads across {N_SALT} tasks instead
of serializing on one — on a 1000-executor cluster that is the
difference between one straggler pinning the stage and even utilization.
Hot cells are MEASURED (one pre-agg pass over the cover cells at
threshold {THRESHOLD:,} rows), never guessed.

Raw: {json.dumps({"n_arcs": n_arcs, "n_hot": n_hot_arcs, "max_task_plain": mx_plain, "max_task_salted": mx_salt, "flags_plain": f_plain, "flags_salted": f_salt, "wall_plain_s": t_plain, "wall_salted_s": t_salt})}
""")
    print("wrote BENCH/SKEW_JOIN.md", flush=True)
    spark.stop()
    if not identical:
        sys.exit(1)


if __name__ == "__main__":
    main()
