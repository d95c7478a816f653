"""Bucketed co-located joins: two tables bucketed on the same key join
with ZERO shuffle exchanges — the engine's primitive for repeatedly
joined fact tables (images ⋈ tile outputs on cell_id)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from egp_crn_spark.functions import cells as C
from egp_crn_spark.functions.georef import key_x, key_y
from egp_crn_spark.sources.tables import save_bucketed_table
from tests import plans


@pytest.fixture(scope="module")
def bucketed(spark):
    pts = spark.range(20_000).select(
        F.col("id").alias("k"),
        C.cell_of_xy(key_x(F.col("id")), key_y(F.col("id")), 6).alias("cell_id"),
        (F.col("id") % 100).alias("v"),
    )
    other = spark.range(5_000).select(
        F.col("id").alias("k2"),
        C.cell_of_xy(key_x(F.col("id") * 3 + 1), key_y(F.col("id") * 3 + 1), 6).alias("cell_id"),
        (F.col("id") % 7).alias("w"),
    )
    save_bucketed_table(pts, "bt_points", "cell_id", num_buckets=8)
    save_bucketed_table(other, "bt_other", "cell_id", num_buckets=8)
    yield spark.table("bt_points"), spark.table("bt_other")
    spark.sql("drop table if exists bt_points")
    spark.sql("drop table if exists bt_other")


def test_bucketed_join_no_shuffle(spark, bucketed):
    a, b = bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = a.join(b, "cell_id").groupBy("cell_id").count()
        assert plans.count_exchanges(a.join(b, "cell_id")) == 0, \
            plans.physical_plan(a.join(b, "cell_id"))
        # correctness unchanged vs a plain (shuffling) join
        plain_a = a.repartition(4)
        want = plain_a.join(b, "cell_id").count()
        assert a.join(b, "cell_id").count() == want
        del joined
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_aggregate_no_shuffle(spark, bucketed):
    a, _ = bucketed
    agg = a.groupBy("cell_id").agg(F.sum("v"))
    assert plans.count_exchanges(agg) == 0, plans.physical_plan(agg)


def test_ivf_index_bucketed_serving(spark):
    """The ANN serving path: ivf_assign builds the index, it is WRITTEN
    bucketed by cell, and ivf_probe against the bucketed table shuffles
    ONLY the (small) probe side — the corpus side reads pre-bucketed
    with no Exchange above its scan."""
    import numpy as np
    from pyspark.sql import functions as F

    from egp_crn_spark.operators.similarity import ivf_assign, ivf_probe

    rng = np.random.default_rng(5)
    C = rng.standard_normal((4, 8))
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    corpus = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64("id", F.lit(d)), F.lit(1001)).cast("double") / 500.0 - 1.0)
            for d in range(8)
        ]).alias("embedding"),
    )
    spark.sql("drop table if exists bt_ivf_index")
    save_bucketed_table(ivf_assign(corpus, C), "bt_ivf_index", "cell", num_buckets=4)
    index = spark.table("bt_ivf_index")
    queries = corpus.filter("vec_id % 40 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    out = ivf_probe(queries, index, C, k=3, nprobe=2)
    p = plans.physical_plan(out)
    # the corpus/index side must come straight off the bucketed scan:
    # exactly the exchanges needed for the probe side + window remain
    import re
    scan_bucketed = re.search(r"Scan parquet [^\n]*bt_ivf_index[^\n]*Bucketed: true",
                              p) or "SelectedBucketsCount" in p
    assert scan_bucketed, f"index scan must be bucketed:\n{p[:1500]}"
    assert out.count() > 0
    spark.sql("drop table if exists bt_ivf_index")


def test_hot_cell_cap_bounded_audited(spark):
    """VERDICT r7 #6: a planted hot IVF cell is bounded by
    cap_index_cells — candidate counts per cell <= max_cell, the audit
    names the hot cell with exact drop counts (no silent drops), probe
    results stay valid, and on a bucketed index the cap's rank window
    adds NO exchange above the scan (the bucketing satisfies its
    distribution)."""
    import numpy as np
    from pyspark.sql import functions as F

    from egp_crn_spark.operators.similarity import (cap_index_cells,
                                                    ivf_assign, ivf_probe)

    rng = np.random.default_rng(11)
    C = rng.standard_normal((4, 8))
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    # 360 of 400 vectors hug centroid 0 (urban-core skew); rest spread
    base = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.pmod(F.xxhash64("id", F.lit(d)), F.lit(1001)).cast("double")
             / 500.0 - 1.0) for d in range(8)
        ]).alias("noise"))
    hot = F.array(*[F.lit(float(c)) for c in C[0]])
    corpus = base.select(
        "vec_id",
        F.when(F.col("vec_id") < 360,
               F.zip_with(hot, F.col("noise"), lambda a, b: a + b * 0.05))
        .otherwise(F.col("noise")).alias("embedding"))
    spark.sql("drop table if exists bt_hot_idx")
    save_bucketed_table(ivf_assign(corpus, C), "bt_hot_idx", "cell",
                        num_buckets=4)
    index = spark.table("bt_hot_idx")
    sizes = {r["cell"]: r["n"] for r in
             index.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    hot_cell = max(sizes, key=sizes.get)
    assert sizes[hot_cell] >= 300  # the plant worked

    capped, audit = cap_index_cells(index, max_cell=50)
    got = {r["cell"]: r["n"] for r in
           capped.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 50 for n in got.values())
    arows = {r["cell"]: (r["n_rows"], r["n_dropped"])
             for r in audit.collect()}
    # every capped cell is audited with exact counts; none invented
    for cell, n in sizes.items():
        if n > 50:
            assert arows[cell] == (n, n - 50)
        else:
            assert cell not in arows
    # the cap window rides the bucketing: no exchange above the scan
    assert plans.count_exchanges(capped) == 0, plans.physical_plan(capped)

    queries = corpus.filter("vec_id % 40 = 1").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    out = ivf_probe(queries, index, C, k=3, nprobe=2, max_cell=50)
    pdf = out.toPandas()
    assert (pdf.groupby("q_id").size() <= 3).all() and len(pdf) > 0
    # determinism: the hash-order cap picks the same survivors each run
    out2 = ivf_probe(queries, index, C, k=3, nprobe=2, max_cell=50)
    assert sorted(map(tuple, pdf[["q_id", "n_id"]].values.tolist())) == \
        sorted(map(tuple, out2.toPandas()[["q_id", "n_id"]].values.tolist()))
    spark.sql("drop table if exists bt_hot_idx")
