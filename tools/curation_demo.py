"""End-to-end training-data curation at 1M documents → BENCH/CURATION.md.

The complete LLM-corpus story composed from the engine's own operators,
each stage consuming the previous one's output — the "a user could run
their whole curation pipeline here" demonstration:

  1M docs → exact dedup → MinHash-LSH near-dup (drop the larger id of
  every pair) → quality filter → deterministic 98/1/1 split →
  2048-token concat-and-chunk packing (coverage invariant asserted).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from pyspark.sql import functions as F  # noqa: E402

from egp_crn_spark.config import env_cpus  # noqa: E402
from egp_crn_spark.operators import sampling as SP  # noqa: E402
from egp_crn_spark.operators.dedup import dedup_exact, dedup_minhash_lsh  # noqa: E402
from egp_crn_spark.operators.text import quality_features, token_count  # noqa: E402
from egp_crn_spark.session import get_session  # noqa: E402

N_DOCS = int(os.environ.get("SPARK_GRAFT_CURATION_DOCS", "1000000"))
CHUNK = 2048


def main() -> None:
    cpus = env_cpus()
    spark = get_session("curation-demo", cores=cpus)
    from dedup_demo import synth_docs

    path = os.path.join(REPO, ".data", f"assembly_docs_{N_DOCS}")
    if not os.path.isdir(path):
        synth_docs(spark, N_DOCS).repartition(cpus * 4).write.mode(
            "overwrite").parquet(path)
    docs = spark.read.parquet(path)

    stages: dict[str, dict] = {}

    def stage(name, fn):
        t0 = time.perf_counter()
        out = fn()
        stages[name]["sec"] = round(time.perf_counter() - t0, 2)
        print(name, stages[name], flush=True)
        return out

    # 1) exact dedup: drop byte-identical texts (keep min-id canonical)
    def s_exact():
        marks = dedup_exact(docs)
        kept = docs.join(
            marks.filter("not is_dup").select("doc_id"), "doc_id",
            "left_semi").cache()
        stages["exact_dedup"] = {"kept": kept.count()}
        return kept

    stages["exact_dedup"] = {}
    exact_kept = stage("exact_dedup", s_exact)

    # 2) near-dup: MinHash-LSH pairs; keep a doc unless it is the
    # larger id of some pair (a planted triangle keeps its min id)
    def s_near():
        pairs = dedup_minhash_lsh(
            exact_kept, num_hashes=8, bands=4, threshold=0.5,
            use_md5=False, max_bucket=2000)
        dup = pairs.select(F.greatest("a_id", "b_id").alias("doc_id"))
        kept = exact_kept.join(dup, "doc_id", "left_anti").cache()
        stages["near_dedup"] = {"kept": kept.count()}
        return kept

    stages["near_dedup"] = {}
    near_kept = stage("near_dedup", s_near)

    # 3) quality filter: token count + alpha ratio thresholds
    def s_quality():
        feats = quality_features(F.col("text"))
        scored = near_kept.select(
            "doc_id", "text",
            token_count(F.col("text")).alias("nt"),
            feats["punct_ratio"].alias("punct"))
        kept = scored.filter("nt >= 8 and punct <= 0.2").cache()
        stages["quality"] = {"kept": kept.count()}
        return kept

    stages["quality"] = {}
    quality_kept = stage("quality", s_quality)

    # 4) deterministic split + 5) pack the train split
    def s_split():
        split = SP.hash_split(
            quality_kept, {"train": 0.98, "val": 0.01, "test": 0.01})
        counts = {r["split"]: r["n"] for r in split.groupBy("split")
                  .agg(F.count("*").alias("n")).collect()}
        stages["split"] = {"counts": counts}
        return split

    stages["split"] = {}
    split = stage("split", s_split)

    def s_pack():
        train = split.filter("split = 'train'")
        packed = SP.pack_chunks(train, "nt", chunk_tokens=CHUNK).cache()
        agg = packed.agg(
            F.sum("nt").alias("total"),
            F.max(F.col("chunk_id") * CHUNK + F.col("chunk_offset")
                  + F.col("nt")).alias("extent"),
            F.count_distinct("chunk_id").alias("chunks"),
            F.count(F.lit(1)).alias("docs")).first()
        assert agg["extent"] == agg["total"], (agg["extent"], agg["total"])
        stages["pack"] = {"docs": agg["docs"], "chunks": int(agg["chunks"]),
                          "tokens": int(agg["total"])}
        packed.unpersist()
        return agg

    stages["pack"] = {}
    stage("pack", s_pack)

    total_s = round(sum(v["sec"] for v in stages.values()), 2)
    results = {"docs_in": N_DOCS, "stages": stages, "total_s": total_s}
    print(json.dumps(results), flush=True)

    out = os.path.join(REPO, "BENCH", "CURATION.md")
    with open(out, "w") as f:
        f.write(f"""# End-to-end corpus curation — {N_DOCS:,} documents, local[{cpus}]

Generated by tools/curation_demo.py: the full training-data pipeline
composed from the engine's own operators, each stage consuming the
previous one's output.

| stage | wall s | result |
|---|---|---|
| exact dedup (content-hash canonical) | {stages['exact_dedup']['sec']} | {stages['exact_dedup']['kept']:,} kept |
| near-dup (MinHash-LSH → drop larger id of each pair) | {stages['near_dedup']['sec']} | {stages['near_dedup']['kept']:,} kept |
| quality filter (tokens ≥ 8, punct ≤ 0.2) | {stages['quality']['sec']} | {stages['quality']['kept']:,} kept |
| deterministic 98/1/1 split | {stages['split']['sec']} | {stages['split']['counts']} |
| pack train split ({CHUNK}-token chunks) | {stages['pack']['sec']} | {stages['pack']['docs']:,} docs → {stages['pack']['chunks']:,} chunks, {stages['pack']['tokens']:,} tokens (coverage invariant exact) |

**Total {total_s} s.** The near-dup stage is the planted-cluster corpus
of BENCH/DEDUP.md (30% of docs sit in near-dup triangles plus universal
boilerplate — the skew-guarded LSH path); split membership and chunk
assignment are pure functions of (doc_id, seed), so re-running any
suffix of this pipeline reproduces identical artifacts — the property
that makes 100-TB curation auditable and resumable.

Raw: {json.dumps(results)}
""")
    print("wrote", out)
    spark.stop()


if __name__ == "__main__":
    main()
