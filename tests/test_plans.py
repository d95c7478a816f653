"""Physical-plan regression tests — the engine's scale contracts.

These fail if a future change silently de-optimizes a headline query:
filters must reach the parquet scan, column pruning must hold, dimension
joins must broadcast, and pure-Column pipelines must stay out of Python.
"""

from __future__ import annotations

import re

import pytest

from egp_crn_spark.driverq import QUERIES
from tests import plans

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    return QUERIES[name][0](spark, SF)


def test_conflation_pushdown_and_broadcast(spark):
    df = _plan(spark, "conflation_crn")
    p = plans.physical_plan(df)
    assert "LessThan(p_partkey,1024)" in p, "crn key filter must push into scan"
    assert "LessThan(s_suppkey,64)" in p, "ngd key filter must push into scan"
    assert plans.has_broadcast_join(df), "dimension sides must broadcast"
    assert not plans.has_python_eval(df), "rect conflation is pure Column"


def test_cell_assignment_prunes_and_stays_jvm(spark):
    df = _plan(spark, "cell_assignment")
    p = plans.physical_plan(df)
    assert re.search(r"ReadSchema: struct<event_id:bigint>", p), \
        "scan must read ONLY the key column"
    assert plans.count_exchanges(df) == 0, "tile assignment must not shuffle"
    assert not plans.has_python_eval(df)


def test_distance_join_no_shuffle_when_broadcast(spark):
    # r9: the broadcast_right path is the grid KERNEL — one mapInPandas
    # stage over the left side, no join, no k-ring explode, and no
    # keyed shuffle (only a round-robin spread of a single-file scan)
    df = _plan(spark, "distance_join")
    assert plans.count_exchanges(df) == 0
    assert plans.has_python_eval(df), "grid kernel must be the map stage"
    p = plans.physical_plan(df)
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_knn_single_shuffle(spark):
    # r9 kernel shape: grid map stage emits per-row top-k candidates;
    # the only keyed shuffle left is the min_by combine on l_id
    df = _plan(spark, "knn_nearest")
    assert plans.count_exchanges(df) <= 1
    assert plans.has_python_eval(df), "grid kernel must be the map stage"
    p = plans.physical_plan(df)
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_ivf_probe_broadcasts_queries_never_shuffles_index(spark):
    """The ANN serving contract: the probe side (tiny query batch) must
    BROADCAST into the join so the corpus index is never shuffled. This
    regressed once — the matmul quantizer emits probes through
    mapInPandas/mapInArrow, whose unknown size statistics pushed Catalyst
    to a sort-merge join that shuffled the whole 1M-row index (probe
    walls 4.6s → 16.6s) until ivf_probe gained its explicit hint."""
    import numpy as np
    from pyspark.sql import functions as F

    from egp_crn_spark.operators.similarity import ivf_assign, ivf_probe

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rng = np.random.default_rng(3)
    C = rng.standard_normal((32, 64))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    index = ivf_assign(emb, C)  # ncells=32 → matmul quantizer
    queries = emb.filter("vec_id % 100 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    df = ivf_probe(queries, index, C, k=3, nprobe=4)
    p = plans.physical_plan(df)
    assert plans.has_broadcast_join(df), "probe side must broadcast"
    assert "SortMergeJoin" not in p, "index side must never sort-merge-shuffle"


def test_embedding_cosine_pair_distinct_is_narrow(spark):
    """The near-dup pair dedup must shuffle only (a_id, b_id, cosine) —
    never the dim-sized va/vb vector arrays (at 64-1536 dims those
    multiply the pair-exchange bytes by ~2 x dim for columns the ids
    already determine). Cosine is computed INSIDE the bucket-join stage;
    the distinct's aggregate keys are the three narrow columns."""
    df = _plan(spark, "embedding_cosine_dup")
    p = plans.physical_plan(df)
    assert re.search(
        r"HashAggregate\(keys=\[a_id#\d+L?, b_id#\d+L?,[^\]]*cosine", p), \
        "pair distinct must key on (a_id, b_id, cosine)"
    assert not re.search(r"HashAggregate\(keys=\[[^\]]*\bv[ab]#", p) and \
        not re.search(r"hashpartitioning\([^)]*\bv[ab]#\d+", p), \
        "no vector column may cross the pair-dedup exchange"


def test_embedding_cosine_quantizer_switch(spark, monkeypatch):
    """VERDICT r5 #4: below _EXPR_BITS_MAX the hyperplane quantizer is a
    pure-Column literal fold (no Python eval); above it the broadcast-
    matmul sign-bit kernel takes over and the plan carries NO plane
    literals (bounded size) — and both quantizers emit identical pairs."""
    from egp_crn_spark.operators import dedup as DD
    from egp_crn_spark.operators.dedup import dedup_embedding_cosine

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    expr_df = dedup_embedding_cosine(emb, threshold=0.3, dim=64)
    assert not plans.has_python_eval(expr_df), \
        "expression quantizer must stay JVM-side"
    with monkeypatch.context() as m:
        m.setattr(DD, "_EXPR_BITS_MAX", 16 * 64 - 1)
        mm_df = dedup_embedding_cosine(emb, threshold=0.3, dim=64)
    p = plans.physical_plan(mm_df)
    assert "MapInArrow" in p, "matmul quantizer runs through mapInArrow"
    assert len(p) < 50_000, "matmul plan must not unroll plane literals"
    # auto switches on num_planes * dim: 16 x 64 = 1024 <= cap -> expr;
    # a 512-dim vector would flip it (16 x 512 > 4096) without data
    auto_small = dedup_embedding_cosine(emb, threshold=0.3, dim=64)
    assert not plans.has_python_eval(auto_small)
    got_e = {tuple(r) for r in expr_df.select("a_id", "b_id").collect()}
    got_m = {tuple(r) for r in mm_df.select("a_id", "b_id").collect()}
    assert got_e == got_m and got_e, "quantizers must agree on the pair set"


def test_embedding_cosine_no_dim_sniff_job(spark, monkeypatch):
    """VERDICT r6 #8: the default dim=None must not run a driver-side
    first() sniff job — the matmul kernel derives the vector width from
    the first Arrow batch in the workers. And the lazy path must emit
    the same pairs as an explicit-dim matmul run (same seed, same
    derived plane matrix)."""
    from egp_crn_spark.operators import dedup as DD
    from egp_crn_spark.operators.dedup import dedup_embedding_cosine

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    lazy = dedup_embedding_cosine(emb, threshold=0.3)
    assert set(tracker.getJobIdsForGroup(None)) == before, \
        "constructing with dim=None must not launch a Spark job"
    assert "MapInArrow" in plans.physical_plan(lazy)
    got_l = {tuple(r) for r in lazy.select("a_id", "b_id").collect()}
    # an explicit dim below the bits bound would take the expr path
    monkeypatch.setattr(DD, "_EXPR_BITS_MAX", 16 * 64 - 1)
    eager = dedup_embedding_cosine(emb, threshold=0.3, dim=64)
    got_e = {tuple(r) for r in eager.select("a_id", "b_id").collect()}
    assert got_l == got_e and got_l


def test_minhash_stays_jvm(spark):
    df = _plan(spark, "minhash_lsh_dup")
    assert not plans.has_python_eval(df), "minhash/banding/jaccard are pure Column"


def test_pip_python_is_filter_only(spark):
    """PIP may use Python ONLY for the scalar refine filter: the plan must
    contain at most Arrow-eval nodes (scalar pandas UDF), never a
    whole-row MapInPandas exchange."""
    df = _plan(spark, "pip_quads")
    p = plans.physical_plan(df)
    assert "FlatMapGroupsInPandas" not in p
    assert "ArrowEvalPython" in p or "BatchEvalPython" in p


def test_mb_v201_is_distributed(spark):
    """mb_v201 must be a cell equi-join + Arrow-batched refine — never
    the round-1 driver-collect of all faces. The plan shows the refine
    MapInPandas downstream of a join keyed on the Morton cover cell."""
    import pandas as pd

    from egp_crn_spark.operators import meshblock as MB

    def arc(sid, pts):
        return {"segment_id": sid,
                "vertices": [[float(x), float(y)] for x, y in pts]}

    rows = [arc("e0", [(100, 100), (600, 100)]), arc("e1", [(600, 100), (600, 600)]),
            arc("e2", [(600, 600), (100, 600)]), arc("e3", [(100, 600), (100, 100)]),
            arc("dead", [(200, 200), (300, 300)])]
    net = spark.createDataFrame(pd.DataFrame(rows))
    faces = MB.polygonize_tiled(net.filter("segment_id != 'dead'"), tile_res=4)
    df = MB.mb_v201_deadend_within(net, faces)
    p = plans.physical_plan(df)
    assert "MapInPandas" in p, "exact refine must be Arrow-batched"
    # the candidate join must be a real equi-join KEYED on the cover
    # cell: either a shuffle partitioned on _cell or a hash join whose
    # key list contains _cell — the bare presence of a _cell column
    # would not fail if this regressed to a nested-loop/collect design
    assert (re.search(r"hashpartitioning\([^)]*_cell#\d+", p)
            or re.search(r"(?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)\s*\[?[^\]]*_cell#\d+", p)), \
        f"candidates must come from a cell equi-join:\n{p[:2000]}"


def test_validate_topology_one_pair_refine(spark):
    """v202 and v303 share one candidate set and one refine stage: the
    whole validate_topology plan holds exactly one MapInPandas."""
    import pandas as pd

    from egp_crn_spark.operators import validate as V

    arcs = spark.createDataFrame(pd.DataFrame({
        "segment_id": ["a", "b"],
        "vertices": [[[0.0, 0.0], [10.0, 0.0]], [[5.0, -5.0], [5.0, 5.0]]],
    }))
    try:
        p = plans.physical_plan(V.validate_topology(arcs))
    finally:
        V.validate_release()
    assert p.count("MapInPandas") == 1, p


def test_partitioned_write_prunes_on_tile_predicate(spark, tmp_path):
    """The lineage/checkpoint output layout (parquet partitioned by
    cell_id — the Iceberg partition-transform stand-in) must let a tile
    predicate prune partitions at the SCAN: the plan's PartitionFilters
    carries the cell_id predicate and no other partition is read."""
    import pandas as pd
    from pyspark.sql import functions as F

    from egp_crn_spark.operators.lineage import CheckpointedRun

    run = CheckpointedRun(spark, str(tmp_path / "ckpt"))
    df = spark.createDataFrame(pd.DataFrame({
        "cell_id": [1, 1, 2, 2, 3], "v": [10, 11, 20, 21, 30]}))
    run.commit(df)
    out = run.output().filter(F.col("cell_id") == 2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the predicate reached the partition filter, not a post-scan Filter
    pf = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "cell_id" in pf and "2" in pf
    assert out.count() == 2


def test_ivf_pq_probe_broadcasts_queries_never_shuffles_index(spark):
    """Same serving contract for the COMPRESSED index: probes broadcast
    into the candidate join, the PQ index never sort-merge-shuffles, and
    the only Python stages are the probe-cell quantizer and the ADC
    kernel (the refine join is pure JVM)."""
    import numpy as np
    from pyspark.sql import functions as F

    from egp_crn_spark.operators.similarity import (ivf_pq_assign,
                                                    ivf_pq_probe)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rng = np.random.default_rng(3)
    C = rng.standard_normal((32, 64))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    B = rng.standard_normal((8, 256, 8)) * 0.05
    index = ivf_pq_assign(emb, C, B)
    queries = emb.filter("vec_id % 100 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    df = ivf_pq_probe(queries, index, C, B, k=3, nprobe=4,
                      refine_corpus=emb)
    p = plans.physical_plan(df)
    assert plans.has_broadcast_join(df), "probe side must broadcast"
    assert "SortMergeJoin" not in p, "index side must never sort-merge-shuffle"


def test_incremental_merge_single_exchange(spark):
    """merge_aggregate_state = union + re-aggregate: exactly ONE
    map-side-combinable shuffle, never an outer join (which would add a
    second exchange and miss null group keys)."""
    from egp_crn_spark.operators import incremental as IV

    state = spark.createDataFrame(
        [("a", 1, 2, 5)], "part string, flag int, _rows long, val_sum long")
    delta = spark.createDataFrame(
        [("a", 1, -1, -2)], "part string, flag int, _rows long, val_sum long")
    from pyspark.sql import functions as F
    merged = IV.merge_aggregate_state(
        state, delta, ["part", "flag"], {"val_sum": F.col("val_sum")})
    assert plans.count_exchanges(merged) <= 1
    assert "Join" not in plans.physical_plan(merged)


def test_pack_chunks_plan_shape(spark):
    """Distributed prefix sum: ONE hash exchange (the bucket window) —
    the offsets come back via a broadcast join, never a sort-merge."""
    from pyspark.sql import functions as F

    from egp_crn_spark.operators import sampling as SP

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.length("text").alias("nt")).filter("nt > 0")
    packed = SP.pack_chunks(docs, "nt", chunk_tokens=1024)
    p = plans.physical_plan(packed)
    assert "SortMergeJoin" not in p
    assert plans.has_broadcast_join(packed)
    assert plans.count_exchanges(packed) <= 2  # window shuffle (+AQE reuse)
