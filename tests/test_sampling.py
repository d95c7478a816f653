"""Dataset assembly (operators/sampling.py) vs pandas oracles.

The load-bearing property is DETERMINISM AS A FUNCTION OF (id, seed):
membership/assignment must not depend on partitioning, row order, or
cluster size — asserted by recomputing under hostile repartitioning."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.operators import sampling as SP

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_hash_split_deterministic_and_weighted(spark, docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = SP.hash_split(docs, w).select("doc_id", "split").toPandas()
    b = SP.hash_split(docs.repartition(17).orderBy(F.desc("doc_id")), w) \
        .select("doc_id", "split").toPandas()
    assert a.sort_values("doc_id").reset_index(drop=True).equals(
        b.sort_values("doc_id").reset_index(drop=True))
    frac = a.split.value_counts(normalize=True)
    assert abs(frac.get("train", 0) - 0.8) < 0.08
    assert set(a.split) <= {"train", "val", "test"}
    # a different seed produces a different assignment
    c = SP.hash_split(docs, w, seed=99).select("doc_id", "split").toPandas()
    merged = a.merge(c, on="doc_id", suffixes=("_a", "_c"))
    assert (merged.split_a != merged.split_c).any()


def test_hash_split_membership_stable_under_growth(spark, docs):
    """Appending rows must never move existing rows between splits —
    the property randomSplit does not have."""
    w = {"train": 0.9, "val": 0.1}
    half = docs.filter("doc_id < 250")
    a = SP.hash_split(half, w).select("doc_id", "split").toPandas()
    b = SP.hash_split(docs, w).select("doc_id", "split").toPandas()
    merged = a.merge(b, on="doc_id", suffixes=("_half", "_full"))
    assert (merged.split_half == merged.split_full).all()


def test_stratified_sample_exact_counts(spark, docs):
    got = SP.stratified_sample(docs, ["lang"], n_per_stratum=20).toPandas()
    sizes = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    per = got.groupby("lang").size()
    for lang, n in sizes.items():
        assert per.get(lang, 0) == min(20, n), lang
    # deterministic under repartition
    again = SP.stratified_sample(
        docs.repartition(13), ["lang"], n_per_stratum=20).toPandas()
    assert set(got.doc_id) == set(again.doc_id)


def test_pack_chunks_matches_pandas_prefix_sum(spark, docs):
    from egp_crn_spark.operators.text import token_count

    toks = docs.select("doc_id", token_count(F.col("text")).alias("nt")) \
        .filter("nt > 0")
    got = SP.pack_chunks(toks, "nt", chunk_tokens=512).toPandas()

    pdf = toks.toPandas()
    # oracle: same global order (UNSIGNED xxhash64 asc, Spark for
    # parity), then a plain pandas cumsum
    order = spark.createDataFrame(pdf).select(
        "doc_id", F.xxhash64(F.lit(7), F.col("doc_id")).alias("o")
    ).toPandas().set_index("doc_id")["o"]
    pdf = pdf.assign(o=pdf.doc_id.map(order).astype("int64").astype("uint64"))
    pdf = pdf.sort_values(["o", "doc_id"]).reset_index(drop=True)
    start = pdf.nt.cumsum().shift(fill_value=0)
    want = pd.DataFrame({
        "doc_id": pdf.doc_id,
        "chunk_id": (start // 512).astype("int64"),
        "chunk_offset": (start % 512).astype("int64"),
    })
    merged = got.merge(want, on="doc_id", suffixes=("", "_w"))
    assert len(merged) == len(pdf)
    assert (merged.chunk_id == merged.chunk_id_w).all()
    assert (merged.chunk_offset == merged.chunk_offset_w).all()
    # partitioning-hostile rerun: identical assignment
    again = SP.pack_chunks(
        toks.repartition(29).orderBy(F.desc("doc_id")), "nt",
        chunk_tokens=512, bucket_bits=3).toPandas()
    m2 = got.merge(again, on="doc_id", suffixes=("", "_r"))
    assert (m2.chunk_id == m2.chunk_id_r).all()
    assert (m2.chunk_offset == m2.chunk_offset_r).all()


def test_pack_chunks_rejects_nonpositive_tokens(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, 7)], "doc_id int, nt int")
    with pytest.raises(Exception, match="non-positive token count"):
        SP.pack_chunks(df, "nt", chunk_tokens=16).collect()


def test_hash_sample_rate_and_determinism(spark, docs):
    got = SP.hash_sample(docs, 0.3).select("doc_id").toPandas()
    assert abs(len(got) / 500 - 0.3) < 0.1
    again = SP.hash_sample(docs.repartition(11), 0.3).select("doc_id").toPandas()
    assert set(got.doc_id) == set(again.doc_id)
    # monotone: raising the rate only ADDS rows (nested samples — the
    # property that lets a pipeline grow a sample without resampling)
    bigger = SP.hash_sample(docs, 0.6).select("doc_id").toPandas()
    assert set(got.doc_id) <= set(bigger.doc_id)


def test_hash_sample_per_stratum_rates(spark, docs):
    langs = docs.groupBy("lang").count().toPandas().set_index("lang")["count"]
    dominant = langs.idxmax()
    got = SP.hash_sample(docs, 1.0, stratum_col="lang",
                         fractions={dominant: 0.1}).toPandas()
    per = got.groupby("lang").size()
    assert per.get(dominant, 0) < langs[dominant] * 0.35
    for lang, n in langs.items():
        if lang != dominant:
            assert per.get(lang, 0) == n, lang


def test_pack_chunks_epoch_layouts(spark, docs):
    """VERDICT r7 #7: epoch salts the layout — each epoch individually
    stable (coverage invariant holds per epoch), epochs mutually
    distinct."""
    toks = docs.select("doc_id", F.col("n_chars").alias("nt"))
    total = toks.agg(F.sum("nt")).first()[0]
    layouts = {}
    for ep in (0, 1, 2):
        got = SP.pack_chunks(toks, "nt", chunk_tokens=512, epoch=ep) \
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        again = SP.pack_chunks(toks.repartition(19), "nt",
                               chunk_tokens=512, epoch=ep) \
            .toPandas().sort_values("doc_id").reset_index(drop=True)
        assert got[["chunk_id", "chunk_offset"]].equals(
            again[["chunk_id", "chunk_offset"]]), f"epoch {ep} not stable"
        # coverage invariant: global starts are a permutation-free exact
        # packing — max(start + nt) == sum(nt), no start collisions
        start = got.chunk_id * 512 + got.chunk_offset
        assert start.is_unique
        assert int((start + got.nt.values).max()) == total
        layouts[ep] = got.set_index("doc_id").chunk_id
    assert not layouts[0].equals(layouts[1])
    assert not layouts[1].equals(layouts[2])


def test_chunk_slices_exact_coverage(spark, docs):
    """chunk_slices: every doc's slices sum to its token count with
    contiguous in-doc extents, and every FULL chunk is covered exactly
    [0, chunk) with no gaps or overlaps."""
    toks = docs.select("doc_id", F.col("n_chars").alias("nt"))
    packed = SP.pack_chunks(toks, "nt", chunk_tokens=512)
    sl = SP.chunk_slices(packed, "nt", 512).toPandas()
    nt = toks.toPandas().set_index("doc_id").nt
    per = sl.groupby("doc_id")
    assert (per.n.sum() == nt.loc[per.n.sum().index]).all()
    for _, g in sl.groupby("doc_id"):
        g = g.sort_values("doc_from")
        assert g.doc_from.iloc[0] == 0
        assert (g.doc_from.values[1:]
                == (g.doc_from + g.n).values[:-1]).all()
    total = int(nt.sum())
    for cid, g in sl.groupby("chunk_id"):
        if cid < total // 512:  # full chunks
            g = g.sort_values("pos")
            assert g.pos.iloc[0] == 0 and g.n.sum() == 512
            assert (g.pos.values[1:] == (g.pos + g.n).values[:-1]).all()
    # slices positions stay inside the chunk
    assert ((sl.pos + sl.n) <= 512).all() and (sl.n > 0).all()


def test_md5_mode_matches_xx_contract(spark, docs):
    """use_md5 keeps every determinism contract (the oracle mode must
    be a drop-in): stable under repartition, nested samples, exact
    per-stratum counts, packing coverage."""
    w = {"train": 0.8, "val": 0.2}
    a = SP.hash_split(docs, w, use_md5=True).select("doc_id", "split") \
        .toPandas()
    b = SP.hash_split(docs.repartition(23), w, use_md5=True) \
        .select("doc_id", "split").toPandas()
    assert a.sort_values("doc_id").reset_index(drop=True).equals(
        b.sort_values("doc_id").reset_index(drop=True))
    s1 = set(SP.hash_sample(docs, 0.3, use_md5=True)
             .select("doc_id").toPandas().doc_id)
    s2 = set(SP.hash_sample(docs, 0.6, use_md5=True)
             .select("doc_id").toPandas().doc_id)
    assert s1 <= s2 and 0 < len(s1) < len(s2) < 500
    st = SP.stratified_sample(docs, ["lang"], 10, use_md5=True).toPandas()
    assert (st.groupby("lang").size() <= 10).all()
    toks = docs.select("doc_id", F.col("n_chars").alias("nt"))
    pk = SP.pack_chunks(toks, "nt", 512, bucket_bits=8, use_md5=True) \
        .toPandas()
    start = pk.chunk_id * 512 + pk.chunk_offset
    assert start.is_unique
    assert int((start + pk.nt.values).max()) == int(pk.nt.sum())
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bucket_bits"):
        SP.pack_chunks(toks, "nt", 512, bucket_bits=10, use_md5=True)
