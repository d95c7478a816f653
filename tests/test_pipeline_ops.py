"""Training-data pipeline ops: text analysis, dedup family, similarity,
image plumbing, lineage, skew — vs numpy/pandas oracles."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.operators import dedup as DD
from egp_crn_spark.operators import images as IM
from egp_crn_spark.operators import similarity as SIM
from egp_crn_spark.operators import text as TX
from egp_crn_spark.operators.lineage import CheckpointedRun, partition_lineage
from egp_crn_spark.operators.skew import hot_keys, salted_aggregate
from tests import plans
from tests.twins import simhash64

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---------------------------------------------------------------- text
def test_token_counts(spark, docs):
    got = docs.select("doc_id", TX.token_count(F.col("text")).alias("n"),
                      TX.bpe_ish_token_count(F.col("text")).alias("nb")).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    import re
    for r, (_, row) in zip(got.itertuples(), pdf.iterrows()):
        want = len(row.text.split()) if row.text.strip() else 0
        assert r.n == want
        assert r.nb == len(re.findall(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", row.text))


def test_quality_and_lang(spark, docs):
    feats = TX.quality_features(F.col("text"))
    got = docs.select("doc_id", "lang", *[c.alias(n) for n, c in feats.items()],
                      TX.predicted_lang(F.col("text")).alias("pred")).toPandas()
    assert (got.n_tokens >= 0).all()
    assert ((got.stop_ratio >= 0) & (got.stop_ratio <= 1)).all()
    assert set(got.pred) <= {"en", "fr", "de", "es"}


def test_shingles_and_fingerprint(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a b c d", "a b", "a b c d"],
    }))
    rows = df.select("doc_id", TX.shingles(F.col("text"), 3).alias("sh"),
                     TX.doc_fingerprint(F.col("text")).alias("fp")).collect()
    got = {r.doc_id: (list(r.sh), r.fp) for r in rows}
    assert got[1][0] == ["a b c", "b c d"]
    assert got[2][0] == []  # shorter than k
    assert got[1][1] == got[3][1]
    assert got[1][1] != got[2][1]


# ---------------------------------------------------------------- dedup
def test_dedup_exact(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["same text", "different", "same text", "same text"],
    }))
    got = DD.dedup_exact(df).toPandas().set_index("doc_id")
    assert not got.loc[1, "is_dup"]
    assert got.loc[3, "is_dup"] and got.loc[4, "is_dup"]
    assert got.loc[3, "canonical_id"] == 1


def _jaccard(a: str, b: str, k=3):
    def sh(t):
        ws = t.split()
        return {" ".join(ws[i:i + k]) for i in range(len(ws) - k + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_minhash_lsh_finds_near_dups(spark, docs):
    got = DD.dedup_minhash_lsh(docs, threshold=0.5, num_hashes=8, bands=4).toPandas()
    pdf = docs.select("doc_id", "text").toPandas()
    texts = dict(zip(pdf.doc_id, pdf.text))
    # verified jaccard must be exact
    for r in got.itertuples():
        assert r.jaccard == pytest.approx(_jaccard(texts[r.a_id], texts[r.b_id]), abs=1e-9)
        assert r.jaccard >= 0.5
    # recall vs exact all-pairs at a higher threshold (banding with 4 bands
    # of 2 rows has >=99% recall at j>=0.8)
    ids = sorted(texts)
    strong = {
        (a, b)
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if _jaccard(texts[a], texts[b]) >= 0.8
    }
    found = set(zip(got.a_id, got.b_id))
    if strong:
        assert len(strong & found) / len(strong) >= 0.9


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["the quick brown fox jumps", "the quick brown fox leaps",
                 "completely unrelated text here"],
    }))
    got = DD.ngram_jaccard_pairs(df, threshold=0.3).toPandas()
    assert set(zip(got.a_id, got.b_id)) == {(1, 2)}
    want = _jaccard("the quick brown fox jumps", "the quick brown fox leaps")
    assert got.jaccard.iloc[0] == pytest.approx(want)


def test_simhash_dedup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [base, base + " extra", "totally different words entirely unrelated"],
    }))
    got = DD.dedup_simhash(df, max_hamming=10).toPandas()
    pairs = set(zip(got.a_id, got.b_id))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_cosine_dedup(spark, embeddings):
    # plant a near-duplicate vector pair
    pdf = embeddings.limit(20).toPandas()
    v = np.asarray(list(pdf.embedding.iloc[0]), dtype=np.float64)
    dup = v + 0.001
    extra = pd.DataFrame({"vec_id": [99991], "embedding": [list(dup)],
                          "label": [0]})
    extra["label"] = extra["label"].astype("int32")
    df = spark.createDataFrame(pd.concat([pdf, extra], ignore_index=True))
    got = DD.dedup_embedding_cosine(df, threshold=0.999, num_planes=8, bands=4).toPandas()
    pairs = set(zip(got.a_id, got.b_id))
    assert (pdf.vec_id.iloc[0], 99991) in pairs


# ---------------------------------------------------------------- similarity
def test_brute_force_topk_matches_numpy(spark, embeddings):
    queries = embeddings.filter("vec_id % 100 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    got = SIM.brute_force_topk(queries, embeddings, k=3).toPandas()
    pdf = embeddings.toPandas()
    X = np.asarray([list(v) for v in pdf.embedding], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    ids = pdf.vec_id.values
    for qid in got.q_id.unique():
        qi = np.where(ids == qid)[0][0]
        sims = Xn @ Xn[qi]
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))[:3]
        want = list(ids[order])
        have = list(got[got.q_id == qid].sort_values("rank").n_id)
        assert have == want, qid


def test_ivf_topk_recall(spark, embeddings):
    queries = embeddings.filter("vec_id % 50 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    exact = SIM.brute_force_topk(queries, embeddings, k=5).toPandas()
    approx = SIM.ivf_topk(queries, embeddings, k=5, ncells=8, nprobe=3).toPandas()
    ex = exact.groupby("q_id").n_id.apply(set)
    ap = approx.groupby("q_id").n_id.apply(set)
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex.index]
    assert np.mean(recalls) >= 0.6  # nprobe=3/8 cells → decent recall


def test_ivf_matmul_matches_expr(spark, embeddings, monkeypatch):
    """The broadcast-matmul quantizer (the scale path for large ncells)
    and the literal-expression quantizer assign identical cells and
    return identical top-k ids on the same data. 8 cells take the expr
    path; lowering _EXPR_NCELLS_MAX below 8 sends them to matmul."""

    queries = embeddings.filter("vec_id % 50 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    C = SIM.train_centroids(embeddings, ncells=8, sample=512)
    expr_idx = SIM.ivf_assign(embeddings, C)
    t_expr = SIM.ivf_topk(queries, embeddings, k=5, ncells=8, nprobe=3,
                          centroids=C)
    monkeypatch.setattr(SIM, "_EXPR_NCELLS_MAX", 7)
    mm_idx = SIM.ivf_assign(embeddings, C)
    t_mm = SIM.ivf_topk(queries, embeddings, k=5, ncells=8, nprobe=3,
                        centroids=C)
    assert "MapInArrow" not in plans.physical_plan(expr_idx)
    assert "MapInArrow" in plans.physical_plan(mm_idx)
    a_expr = expr_idx.select("n_id", "cell").toPandas()
    a_mm = mm_idx.select("n_id", "cell").toPandas()
    merged = a_expr.merge(a_mm, on="n_id", suffixes=("_e", "_m"))
    assert len(merged) == len(a_expr)
    assert (merged.cell_e == merged.cell_m).all()

    t_expr, t_mm = t_expr.toPandas(), t_mm.toPandas()
    key = ["q_id", "n_id", "rank"]
    assert (t_expr[key].sort_values(key).reset_index(drop=True)
            .equals(t_mm[key].sort_values(key).reset_index(drop=True)))


def test_ivf_float32_index(spark, embeddings, monkeypatch):
    """dtype='float32' carries the index in single precision (half the
    Arrow/shuffle bytes) without hurting ANN quality: same cells as the
    double path on this fixture, and probe recall vs exact matches the
    double path's."""
    queries = embeddings.filter("vec_id % 50 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    C = SIM.train_centroids(embeddings, ncells=8, sample=512)
    idx32 = SIM.ivf_assign(embeddings, C, dtype="float32")
    from pyspark.sql.types import ArrayType, FloatType
    assert idx32.schema["cv"].dataType == ArrayType(FloatType())
    # the double path through the same (matmul) quantizer
    monkeypatch.setattr(SIM, "_EXPR_NCELLS_MAX", 7)
    idx64 = SIM.ivf_assign(embeddings, C)
    a = idx32.select("n_id", "cell").toPandas().set_index("n_id").cell
    b = idx64.select("n_id", "cell").toPandas().set_index("n_id").cell
    assert (a.reindex(b.index) == b).all()

    exact = SIM.brute_force_topk(queries, embeddings, k=5).toPandas()
    got = SIM.ivf_probe(queries, idx32, C, k=5, nprobe=3).toPandas()
    ex = exact.groupby("q_id").n_id.apply(set)
    ap = got.groupby("q_id").n_id.apply(set)
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex.index]
    assert np.mean(recalls) >= 0.6


@pytest.mark.parametrize("kernel", ["ivf_assign", "ivf_pq_assign",
                                    "dedup_embedding_cosine",
                                    "train_centroids", "train_pq"])
def test_ragged_vectors_raise(spark, monkeypatch, kernel):
    """Rows of widths dim-1 and dim+1 in ONE Arrow batch flatten to
    exactly n x dim values; every fixed-width decode must still refuse
    them, naming the column, instead of silently shifting rows. The
    training samples (train_centroids, train_pq) decode on the driver,
    so they raise at the call."""
    dim = 8
    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        [(0, [1.0] * (dim - 1)), (1, [1.0] * (dim + 1))],
        "vec_id long, embedding array<double>").coalesce(1)
    # keep both rows in one partition, hence one batch
    monkeypatch.setattr(SIM, "_ensure_parallelism", lambda df: df)
    C = rng.standard_normal((4, dim))
    if kernel == "ivf_assign":
        monkeypatch.setattr(SIM, "_EXPR_NCELLS_MAX", 0)  # the matmul kernel
        run, what = SIM.ivf_assign(corpus, C).collect, "ivf_assign: column 'cv'"
    elif kernel == "ivf_pq_assign":
        run = SIM.ivf_pq_assign(
            corpus, C, rng.standard_normal((2, 256, dim // 2))).collect
        what = "ivf_pq_assign: column 'cv'"
    elif kernel == "dedup_embedding_cosine":
        run = DD.dedup_embedding_cosine(corpus, threshold=0.0).collect
        what = "dedup_embedding_cosine: column '_v'"
    elif kernel == "train_centroids":
        run = lambda: SIM.train_centroids(corpus, ncells=2)  # noqa: E731
        what = "train_centroids: column 'embedding'"
    else:
        run = lambda: SIM.train_pq(corpus, C, m=2)  # noqa: E731
        what = "train_pq: column 'embedding'"
    with pytest.raises(Exception, match=f"{what} has ragged vectors"):
        run()


def test_ivf_matmul_large_ncells(spark, embeddings):
    """The quantizer switches to matmul above _EXPR_NCELLS_MAX and stays
    correct: every assigned cell equals the numpy nearest centroid."""
    C = SIM.train_centroids(embeddings, ncells=32, sample=512)
    got = SIM.ivf_assign(embeddings, C).select("n_id", "cell").toPandas()
    pdf = embeddings.toPandas()
    X = np.asarray([list(v) for v in pdf.embedding], dtype=np.float64)
    sims = X @ C.T
    want = pd.Series(sims.shape[1] - 1 - np.argmax(sims[:, ::-1], axis=1),
                     index=pdf.vec_id.values)
    merged = got.set_index("n_id").cell
    assert len(merged) == len(want)
    assert (merged.reindex(want.index) == want).all()


def test_ivf_pq_assign_matches_numpy(spark, embeddings):
    """The fused PQ encode kernel (coarse argmax → normalize → residual →
    per-subspace argmin) produces exactly the codes a numpy reference
    computes from the same float32 centroids/codebooks."""
    C = SIM.train_centroids(embeddings, ncells=8, sample=512)
    B = SIM.train_pq(embeddings, C, m=8)
    got = SIM.ivf_pq_assign(embeddings, C, B).toPandas().set_index("n_id")
    assert (got.codes.str.len() == 8).all()

    pdf = embeddings.toPandas()
    X = np.asarray([list(v) for v in pdf.embedding], dtype=np.float32)
    C32 = np.ascontiguousarray(C, dtype=np.float32)
    B32 = np.ascontiguousarray(B, dtype=np.float32)
    sims = X @ C32.T
    cell = sims.shape[1] - 1 - np.argmax(sims[:, ::-1], axis=1)
    Xh = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    R = Xh - C32[cell]
    for i, nid in enumerate(pdf.vec_id.values):
        assert got.loc[nid, "cell"] == cell[i], nid
        codes = np.frombuffer(got.loc[nid, "codes"], dtype=np.uint8)
        for mi in range(8):
            s = R[i, mi * 8:(mi + 1) * 8]
            cb = B32[mi]
            d = (cb * cb).sum(1) - 2.0 * (cb @ s)
            assert codes[mi] == d.argmin(), (nid, mi)


def test_ivf_pq_probe_refined_recall(spark, embeddings):
    """PQ + exact refine recovers the recall of the uncompressed probe:
    the refined result's recall vs brute force matches the float index's
    on the same (centroids, nprobe) — compression costs candidates only
    through ADC ranking, and refine_mult headroom absorbs that."""
    queries = embeddings.filter("vec_id % 50 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    C = SIM.train_centroids(embeddings, ncells=8, sample=512)
    B = SIM.train_pq(embeddings, C, m=8)
    idx_pq = SIM.ivf_pq_assign(embeddings, C, B)
    exact = SIM.brute_force_topk(queries, embeddings, k=5).toPandas()
    got = SIM.ivf_pq_probe(queries, idx_pq, C, B, k=5, nprobe=3,
                           refine_corpus=embeddings).toPandas()
    # refined sims are EXACT cosines: spot-check against brute force
    merged = got.merge(exact, on=["q_id", "n_id"], suffixes=("", "_bf"))
    assert np.allclose(merged.sim, merged.sim_bf, atol=1e-12)
    ex = exact.groupby("q_id").n_id.apply(set)
    ap = got.groupby("q_id").n_id.apply(set)
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex.index]
    # uncompressed ivf at nprobe=3/8 asserts >= 0.6 on this fixture;
    # PQ+refine should not fall below it
    assert np.mean(recalls) >= 0.6
    assert (got.groupby("q_id").size() <= 5).all()


def test_ivf_pq_adc_only_ranking(spark, embeddings):
    """Without a refine corpus the probe returns ADC-ranked top-k whose
    approximate sims track the true cosine (rank correlation on the
    candidate pool), and k*refine_mult expansion is NOT applied."""
    queries = embeddings.filter("vec_id % 100 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    C = SIM.train_centroids(embeddings, ncells=8, sample=512)
    B = SIM.train_pq(embeddings, C, m=8)
    idx_pq = SIM.ivf_pq_assign(embeddings, C, B)
    with pytest.raises(ValueError, match="approx_ok"):
        SIM.ivf_pq_probe(queries, idx_pq, C, B, k=5, nprobe=3)
    got = SIM.ivf_pq_probe(queries, idx_pq, C, B, k=5, nprobe=3,
                           refine_corpus=None, approx_ok=True).toPandas()
    assert (got.groupby("q_id").size() <= 5).all()
    assert set(got.columns) == {"q_id", "n_id", "rank", "sim"}
    # ADC sims approximate cosine: every returned sim is within the PQ
    # quantization error band of the true cosine for that pair
    pdf = embeddings.toPandas().set_index("vec_id")
    X = {i: np.asarray(v, dtype=np.float64) for i, v in pdf.embedding.items()}
    for r in got.itertuples():
        q, n = X[r.q_id], X[r.n_id]
        true = float(q @ n / (np.linalg.norm(q) * np.linalg.norm(n)))
        assert abs(r.sim - true) < 0.35, (r.q_id, r.n_id, r.sim, true)


# ---------------------------------------------------------------- images
def test_image_ops(spark, fixtures_dir):
    images = spark.read.parquet(f"{fixtures_dir}/images.parquet").limit(100)
    meta = IM.decode_meta(images).toPandas()
    src = images.select("image_id", "w", "h").toPandas().set_index("image_id")
    for r in meta.itertuples():
        assert (r.w, r.h, r.channels) == (src.loc[r.image_id, "w"], src.loc[r.image_id, "h"], 3)
    rs = IM.resize_images(images, 8, 8).toPandas()
    assert (rs.w == 8).all() and (rs.h == 8).all()
    feats = IM.extract_features(images, grid=2).toPandas()
    assert all(len(f) == 4 for f in feats.feature)


def test_tile_roundtrip_report(spark, fixtures_dir):
    images = spark.read.parquet(f"{fixtures_dir}/images.parquet")
    rep = IM.tile_roundtrip_report(images, tile_res=3).toPandas()
    assert rep.n_fail.sum() == 0
    assert rep.n_images.sum() == images.count()
    lossy = rep[rep.min_psnr > 0]
    assert (lossy.min_psnr >= 40.0).all()


def test_frame_sample(spark):
    df = spark.createDataFrame(pd.DataFrame({
        "video_id": ["v"] * 10, "frame_idx": list(range(10)),
        "bytes": [b"x"] * 10,
    }))
    got = IM.frame_sample(df, every=4).toPandas()
    assert sorted(got.frame_idx) == [0, 4, 8]


# ---------------------------------------------------------------- lineage + skew
def test_checkpointed_run_resume(spark, tmp_path):
    df = spark.range(100).select(
        (F.col("id") % 7).alias("cell_id"), F.col("id").alias("val")
    )
    run = CheckpointedRun(spark, str(tmp_path / "run"))
    # first pass: process only cells 0-2 (simulated partial run)
    first = run.remaining(df).filter("cell_id <= 2")
    run.commit(first)
    assert run.verify().count() == 0
    # resume: remaining excludes completed cells
    rem = run.remaining(df)
    assert set(r.cell_id for r in rem.select("cell_id").distinct().collect()) == {3, 4, 5, 6}
    run.commit(rem)
    assert run.output().count() == 100
    assert run.remaining(df).count() == 0
    assert run.verify().count() == 0


def test_checkpointed_run_verify_detects_corruption(spark, tmp_path):
    """verify-on-resume: corrupt ONE committed partition's bytes (same
    row count, one value flipped — only the checksum can catch it) and
    the resume must detect, reprocess, and repair exactly that
    partition while still skipping every healthy one."""
    import glob
    import os

    import pyarrow.parquet as pq

    df = spark.range(100).select(
        (F.col("id") % 5).alias("cell_id"), F.col("id").alias("val"))
    run = CheckpointedRun(spark, str(tmp_path / "run"))
    run.commit(run.remaining(df))
    assert run.verify().count() == 0

    part = glob.glob(str(tmp_path / "run" / "data" / "cell_id=2" / "*.parquet"))[0]
    t = pq.read_table(part).to_pandas()
    t.loc[0, "val"] = t.loc[0, "val"] + 1000  # same count, different content
    tmp = part + ".tmp"
    import pyarrow as pa
    pq.write_table(pa.Table.from_pandas(t, preserve_index=False), tmp)
    os.replace(tmp, part)
    # drop Hadoop's local-FS .crc sidecar so the byte swap isn't caught
    # below our layer — production object stores have no such sidecar
    crc = os.path.join(os.path.dirname(part),
                       "." + os.path.basename(part) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)

    bad = [r.cell_id for r in run.verify().collect()]
    assert bad == [2]
    # plain resume trusts the lineage; verify=True returns the bad cell
    assert run.remaining(df).count() == 0
    todo = run.remaining(df, verify=True)
    assert set(r.cell_id for r in todo.select("cell_id").distinct().collect()) == {2}
    run.commit(todo)  # dynamic overwrite repairs just that partition
    assert run.verify().count() == 0
    assert run.remaining(df, verify=True).count() == 0
    got = sorted(r.val for r in run.output().filter("cell_id = 2").collect())
    assert got == sorted(range(2, 100, 5))


def test_partition_lineage_order_insensitive(spark):
    df1 = spark.range(50).select((F.col("id") % 3).alias("cell_id"), F.col("id").alias("v"))
    df2 = df1.orderBy(F.rand(7))
    a = partition_lineage(df1).toPandas().sort_values("cell_id").reset_index(drop=True)
    b = partition_lineage(df2).toPandas().sort_values("cell_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_partition_lineage_checksum_matches_list_xor(spark):
    """The ``bit_xor`` checksum equals the xor folded over each cell's
    collected row hashes (the expression it replaced, kept as oracle),
    on a seeded frame with nulls, negatives and a one-row cell, and the
    plan builds no per-cell list."""
    rng = np.random.default_rng(1404)
    n = 2000
    cells = rng.integers(0, 23, n).tolist() + [99]
    vals = rng.integers(-10**12, 10**12, n + 1).tolist()
    names = [None if i % 17 == 0 else f"n{i % 101}" for i in range(n + 1)]
    df = spark.createDataFrame(list(zip(cells, vals, names)),
                               "cell_id long, v long, name string")
    row_hash = F.xxhash64(F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in sorted(df.columns)]))
    oracle = (df.withColumn("_h", row_hash).groupBy("cell_id").agg(
        F.count("*").alias("row_count"),
        F.format_string("%016x", F.aggregate(
            F.collect_list("_h"), F.lit(0).cast("long"),
            lambda acc, h: acc.bitwiseXOR(h))).alias("checksum")))
    lineage = partition_lineage(df)
    got = lineage.toPandas().sort_values("cell_id").reset_index(drop=True)
    want = oracle.toPandas().sort_values("cell_id").reset_index(drop=True)
    assert len(got) == 24
    pd.testing.assert_frame_equal(got, want)
    # ordinary partial aggregation: no per-cell list in an ObjectHashAggregate
    plan = plans.physical_plan(lineage)
    assert "ObjectHashAggregate" not in plan and "collect_list" not in plan, plan


def test_salted_aggregate_matches_plain(spark):
    df = spark.range(10000).select(
        F.when(F.col("id") < 9000, F.lit(1)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("v"),
    )
    hot = hot_keys(df, "k", threshold=1000).toPandas()
    assert list(hot.k) == [1]
    got = salted_aggregate(
        df, "k",
        aggs={"s": F.sum("v"), "n": F.count("*")},
        merge={"s": F.sum("s"), "n": F.sum("n")},
        threshold=1000, n_salt=8,
    ).toPandas().sort_values("k").reset_index(drop=True)
    want = df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")) \
        .toPandas().sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_simhash_md5_matches_xxhash_structure(spark):
    """Oracle-mode (md5) simhash finds the same near-dup pair structure and
    respects the generalized pigeonhole banding (bands = max_hamming + 1)."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [base, base + " extra", "totally different words entirely unrelated"],
    }))
    got = DD.dedup_simhash(df, max_hamming=10, use_md5=True).toPandas()
    pairs = set(zip(got.a_id, got.b_id))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    assert (got.hamming <= 10).all()


def test_v302_small_deadend_broadcast_path(spark, monkeypatch):
    """The bound-enforced v302 broadcast decision: with few deadends the
    distance join's point side and the connectivity join's endpoint side
    BROADCAST (the arc side is never shuffled); with the bound forced to
    0 the same input takes pinned shuffled hash joins. Both paths must
    flag the same arcs."""
    import pandas as pd

    from egp_crn_spark.operators import guard
    from egp_crn_spark.operators import validate as V

    def arc(sid, pts):
        return {"segment_id": sid,
                "vertices": [[float(x), float(y)] for x, y in pts]}

    rows = [arc("road", [(0, 0), (100, 0)]),
            arc("stub", [(50, 3), (50, 9)]),          # deadend near road
            arc("far", [(300, 300), (400, 300)])]
    net = spark.createDataFrame(pd.DataFrame(rows))
    df_b = V.v302_min_distance(net)
    assert plans.has_broadcast_join(df_b), "small deadend set must broadcast"
    got_b = sorted(r.flagged_id for r in df_b.collect())

    monkeypatch.setattr(guard, "BROADCAST_MAX_ROWS", 0)
    df_s = V.v302_min_distance(net)
    assert "ShuffledHashJoin" in plans.physical_plan(df_s)
    got_s = sorted(r.flagged_id for r in df_s.collect())
    assert got_b == got_s == ["road", "stub"]


def test_simhash_banding_recall_exhaustive(spark):
    """Every pair within max_hamming MUST be produced (pigeonhole bands).
    Brute-force check against all-pairs hamming on the real signatures."""
    texts = [
        "alpha beta gamma delta epsilon zeta", "alpha beta gamma delta epsilon eta",
        "alpha beta gamma delta theta zeta", "iota kappa lambda mu nu xi",
        "iota kappa lambda mu nu omicron", "pi rho sigma tau upsilon phi",
    ]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    sig = df.select("doc_id", simhash64(F.col("text")).alias("sh")).toPandas()
    sh = dict(zip(sig.doc_id, sig.sh))
    for h in (2, 5, 9):
        want = {
            (a, b)
            for a in sh for b in sh if a < b
            and bin((int(sh[a]) ^ int(sh[b])) & ((1 << 64) - 1)).count("1") <= h
        }
        got = DD.dedup_simhash(df, max_hamming=h).toPandas()
        assert set(zip(got.a_id, got.b_id)) == want


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A boilerplate shingle shared by every doc explodes candidates; the
    max_df cap bounds them and hot_shingles reports what was dropped."""
    boiler = "terms of service apply to all"
    docs = {i: f"{boiler} document number {i} unique body {i * 7}" for i in range(12)}
    # residual shared phrases around the cap: "beta gamma delta" sits in
    # exactly 3 docs (kept), "alpha beta gamma" in 5 and "omega psi chi"
    # in 4 (both dropped)
    for i in range(5):
        docs[i] += " alpha beta gamma" + (" delta" if i < 3 else "")
    for i in range(5, 9):
        docs[i] += " omega psi chi"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(docs), "text": list(docs.values())}))
    # uncapped: the boilerplate shingles pair everything
    full = DD.ngram_jaccard_pairs(df, threshold=0.05).toPandas()
    assert len(full) == 12 * 11 / 2
    # capped: shingles in >3 docs are dropped → only the residual shared
    # shingles can pair docs; candidate count is bounded
    capped = DD.ngram_jaccard_pairs(df, threshold=0.05, max_df=3).toPandas()
    assert len(capped) < len(full)
    # exactly the Jaccard over the KEPT shingles (document frequency <= 3)
    sets = {}
    for i, t in docs.items():
        w = t.split()
        sets[i] = {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}
    dfreq = pd.Series([s for v in sets.values() for s in v]).value_counts()
    kept = {i: {s for s in v if dfreq[s] <= 3} for i, v in sets.items()}
    want = {}
    for a in docs:
        for b in docs:
            inter = len(kept[a] & kept[b])
            if a < b and inter:
                jac = inter / (len(kept[a]) + len(kept[b]) - inter)
                if jac >= 0.05:
                    want[(a, b)] = jac
    got = {(r.a_id, r.b_id): r.jaccard for r in capped.itertuples()}
    assert set(want) == {(0, 1), (0, 2), (1, 2)} and got == want
    hot = DD.hot_shingles(df, max_df=3).toPandas()
    assert len(hot) > 0 and (hot["df"] > 3).all()


def test_ngram_jaccard_cap_is_default_on(spark):
    """VERDICT r5 #3: universal boilerplate in >1000 docs must NOT go
    quadratic under the DEFAULT arguments — max_df=1000 is on unless the
    caller explicitly opts out with max_df=None."""
    n = 1100
    boiler = "terms of service apply to all"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(n)),
        "text": [f"{boiler} unique body {i * 7} tail {i * 13}" for i in range(n)],
    }))
    got = DD.ngram_jaccard_pairs(df, threshold=0.05).toPandas()
    # the boilerplate shingles sit in all 1100 docs (> max_df) and are
    # dropped; the unique bodies share nothing, so no pair survives —
    # the uncapped path would emit n*(n-1)/2 ≈ 600k boilerplate pairs
    assert len(got) == 0


def test_v302_double_deadend_set_subtraction(spark):
    """An arc with BOTH endpoints deadends near the same unconnected arc
    must not leak through the connected-subtraction (per-arc SET, not
    multiset — validate_topology.py:219-221)."""
    from egp_crn_spark.operators import validate as V

    rows = [
        # isolated short stub: both endpoints deadends, both within 5 of road
        {"segment_id": "stub", "vertices": [[100.0, 102.0], [103.0, 102.0]]},
        # road below, not sharing any node with stub
        {"segment_id": "road", "vertices": [[90.0, 100.0], [120.0, 100.0]]},
        # connected pair: stub2 lies along road2, one endpoint coinciding
        # with road2's INTERIOR vertex (so both stub2 endpoints are
        # deadends, both within 5 of road2 → the pair enters hits TWICE,
        # but connected-subtraction holds it once)
        {"segment_id": "stub2", "vertices": [[206.0, 100.0], [210.0, 100.0]]},
        {"segment_id": "road2", "vertices": [[200.0, 100.0], [210.0, 100.0], [210.0, 110.0]]},
    ]
    arcs = spark.createDataFrame(pd.DataFrame(rows))
    got = set(V.v302_min_distance(arcs).toPandas().flagged_id)
    # stub/road: unconnected, within 5 → both flagged.
    # stub2/road2: connected via the shared (210, 100) node → NOT flagged
    # even though the (stub2, road2) pair arises twice (once per deadend
    # endpoint) and connected holds it only once.
    assert got == {"stub", "road"}


def test_ivf_build_probe_reuse(spark, embeddings):
    """ivf_assign builds the index once; two probe batches against the
    SAME index return exactly what one-shot ivf_topk returns."""
    from egp_crn_spark.operators.similarity import (
        ivf_assign, ivf_probe, ivf_topk, train_centroids)

    C = train_centroids(embeddings, ncells=4)
    index = ivf_assign(embeddings, C).cache()
    for m in (0, 1):
        q = embeddings.filter(F.col("vec_id") % 20 == m).select(
            F.col("vec_id").alias("q_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
        got = ivf_probe(q, index, C, k=3, nprobe=2).toPandas()
        want = ivf_topk(q, embeddings, k=3, ncells=4, nprobe=2,
                        centroids=C).toPandas()
        key = ["q_id", "n_id", "rank"]
        assert sorted(map(tuple, got[key].values.tolist())) == \
               sorted(map(tuple, want[key].values.tolist()))


def test_ivf_probe_pair_uniqueness(spark, embeddings):
    """The single-cell-assignment invariant that lets ivf_probe skip a
    pair dedup: ivf_assign places each corpus vector in exactly ONE cell
    and the nprobe probe cells per query are distinct, so a (q_id, n_id)
    pair meets at most once in the probe equi-join. With k large enough
    to keep every scored candidate, no pair may repeat — a future
    multi-assignment index variant would break this and double-count."""
    from egp_crn_spark.operators.similarity import (
        ivf_assign, ivf_probe, train_centroids)

    C = train_centroids(embeddings, ncells=4)
    index = ivf_assign(embeddings, C)
    q = embeddings.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    all_pairs = ivf_probe(q, index, C, k=10**9, nprobe=4)
    dup = (all_pairs.groupBy("q_id", "n_id").count()
           .filter("count > 1").count())
    assert dup == 0


def test_phash_near_dup_planted(spark):
    """Planted phash families: exact recall at the requested hamming
    threshold, no pairs beyond it, bucket cap drops a degenerate
    mega-cluster (solid-color images hashing identically)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from egp_crn_spark.operators.images import phash_near_dup

    base = 0x0123456789ABCDEF
    rows = [("a0", base)]
    # partners at hamming 1..5 (flip k distinct bits)
    for k in (1, 2, 3, 4, 5):
        ph = base
        for b in range(k):
            ph ^= 1 << (b * 11)
        rows.append((f"h{k}", ph))
    # unrelated far value
    rows.append(("far", -0x7E57AB1E5))
    # degenerate cluster: 50 identical phashes (cap must drop them)
    rows += [(f"dup{i}", 42) for i in range(50)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]))

    got = phash_near_dup(df, max_hamming=3, max_bucket=10).toPandas()
    pairs = {(r.a_id, r.b_id): r.hamming for r in got.itertuples()}
    # exact ground truth: every family pair within hamming 3 (note h1-h4
    # are 3 apart — shared flips cancel in the xor), nothing else
    fam = {"a0": base}
    for k in (1, 2, 3, 4, 5):
        ph = base
        for b in range(k):
            ph ^= 1 << (b * 11)
        fam[f"h{k}"] = ph
    want = {}
    names = sorted(fam)
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            h = bin(fam[a] ^ fam[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert pairs == want
    assert ("a0", "h3") in pairs and pairs[("a0", "h3")] == 3
    assert not any("far" in p for p in pairs)
    # capped mega-cluster contributes nothing (audit would surface it)
    assert not any(a.startswith("dup") for a, _ in pairs)

    # the cap runs BELOW the aggregation that collects bucket members:
    # the Window count and its `_cnt <= max_bucket` Filter are descendants
    # (later lines) of every collect_list ObjectHashAggregate, so no
    # bucket over the cap is ever collected
    lines = plans.physical_plan(
        phash_near_dup(df, max_hamming=3, max_bucket=10)).splitlines()
    aggs = [i for i, ln in enumerate(lines)
            if "ObjectHashAggregate" in ln and "collect_list" in ln]
    cap = [i for i, ln in enumerate(lines)
           if "Filter" in ln and "_cnt" in ln and "<= 10" in ln]
    win = [i for i, ln in enumerate(lines)
           if "Window [count(1)" in ln and "_cnt" in ln]
    assert aggs and len(cap) == 1 and len(win) == 1, "\n".join(lines)
    assert max(aggs) < cap[0] < win[0], "\n".join(lines)

    # recall guarantee without the cap: all 50 identical dups pair up
    full = phash_near_dup(df.filter(F.col("image_id").startswith("dup")),
                          max_hamming=0, max_bucket=1000)
    assert full.count() == 50 * 49 // 2


def test_zero_vector_rows_score_not_crash(spark, embeddings):
    """A zero embedding in corpus or queries must score sim 0.0 (numpy
    kernels' max(norm, eps) convention), not kill the job with
    DIVIDE_BY_ZERO under ANSI mode (Spark 4 default)."""
    from pyspark.sql import Row
    zero = spark.createDataFrame(
        [Row(vec_id=999999, embedding=[0.0] * 64)])
    corpus = embeddings.select("vec_id", "embedding").unionByName(zero)
    queries = corpus.filter("vec_id in (0, 999999)").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    got = SIM.brute_force_topk(queries, corpus, k=3).toPandas()
    assert set(got.q_id) == {0, 999999}
    assert (got[got.q_id == 999999].sim == 0.0).all()
    ivf = SIM.ivf_topk(queries, corpus, k=3, ncells=8, nprobe=8).toPandas()
    assert (ivf[ivf.q_id == 999999].sim == 0.0).all()
