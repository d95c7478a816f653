"""Similarity search over embedding columns.

Brute-force cosine top-k (the exactness baseline) and an IVF-style
coarse-quantizer ANN (the scale path): centroids from a seeded sample,
vectors assigned to nearest centroid (partition pruning), queries probe
``nprobe`` nearest centroids — candidate set shrinks by ~ncells/nprobe.

Scoring math is JVM higher-order folds (Column expressions). numpy
appears in exactly two places: centroid training (driver-side bounded
seeded sample) and the broadcast-matmul coarse quantizer — one BLAS
``X @ C.T`` per Arrow record batch inside mapInArrow, the scale path
for cell counts an unrolled literal expression cannot represent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import _ensure_parallelism, _vector_matrix, cosine_sim


def _as_double(vec_col: str):
    return F.transform(F.col(vec_col), lambda x: x.cast("double"))


def _norm(vec) -> "F.Column":
    return F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x),
                              F.lit(0.0), lambda s, v: s + v))


def _dot(a, b) -> "F.Column":
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda s, v: s + v)


def _safe_den(den) -> "F.Column":
    """Cosine denominator floor: bit-identical for every nonzero norm
    product (real norms are >= ~1e-12, their products >= ~1e-24 >>
    1e-300), but a ZERO vector in the corpus or query scores sim 0.0
    instead of killing the whole job with DIVIDE_BY_ZERO under ANSI
    mode (Spark 4 default) — same convention as the numpy kernels'
    max(norm, eps)."""
    return F.greatest(den, F.lit(1e-300))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(q_id, n_id, rank): exact top-k by cosine (desc, id asc tie-break).
    queries: (q_id, vec). corpus: (id_col, vec_col). Exhaustive —
    baseline only; the corpus side streams, queries broadcast.

    Norms are precomputed per ROW, not per pair: cosine_sim() inside the
    cross join would fold each side's norm |queries| times — hoisting
    them cuts the per-pair work to one dot product (3x fewer flops;
    dot / (qn * cn) keeps the exact operand order of cosine_sim, so
    results are bit-identical)."""
    q = F.broadcast(queries.select(
        F.col("q_id"), F.col("qv"), _norm(F.col("qv")).alias("_qn")))
    c = _ensure_parallelism(
        corpus.select(F.col(id_col).alias("n_id"), _as_double(vec_col).alias("cv")))
    c = c.withColumn("_cn", _norm(F.col("cv")))
    scored = q.crossJoin(c).filter(F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id",
        (_dot(F.col("qv"), F.col("cv"))
         / _safe_den(F.col("_qn") * F.col("_cn"))).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "sim")
    )


def _training_sample(corpus: DataFrame, vec_col: str, id_col: str,
                     sample: int, fn: str) -> np.ndarray:
    """(n, dim) float64 matrix of the top-``sample`` rows by
    xxhash64(id), collected as Arrow and decoded by ``_vector_matrix``:
    a null or ragged embedding raises naming ``fn`` and ``vec_col``."""
    tbl = (
        corpus.select(F.col(id_col), _as_double(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample)
        .toArrow()
    )
    return _vector_matrix(tbl.column("v").combine_chunks(), None,
                          f"{fn}: column '{vec_col}'")


def train_centroids(corpus: DataFrame, ncells: int, vec_col: str = "embedding",
                    sample: int = 4096, iters: int = 5, seed: int = 7,
                    id_col: str = "vec_id") -> np.ndarray:
    """k-means on a seeded driver-side sample (classic IVF training).
    The sample is the top-``sample`` rows by xxhash64(id) — deterministic
    (a bare limit() takes whichever partitions answer first, making every
    downstream ANN result run-order dependent) AND unbiased for
    id-ordered corpora (the first N ids of a source/time-ordered table
    are not a representative slice; a hash order is)."""
    X = _training_sample(corpus, vec_col, id_col, sample, "train_centroids")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(ncells, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                c = X[m].mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


# above this cell count the unrolled literal expression (ncells × dim
# terms) blows up plan size/compile time; the broadcast-matmul kernel
# takes over. At production IVF scale (ncells 10^4-10^6) the expression
# form is infeasible outright — the matmul path is the real scale path,
# the expression path survives only because tiny-ncells oracles want a
# pure-Column (and hence DuckDB-twin-exact) quantizer.
_EXPR_NCELLS_MAX = 16


def _nearest_centroids_expr(vec, C: np.ndarray, nprobe: int):
    """Array of the nprobe nearest centroid ids — pure Column fold over a
    literal centroid matrix (small: ncells × dim)."""
    sims = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(float(x)) for x in C[j]]), lambda a, b: a * b),
                F.lit(0.0), lambda s, v: s + v,
            ).alias("sim"),
            F.lit(j).alias("cell"),
        )
        for j in range(len(C))
    ])
    top = F.slice(F.reverse(F.array_sort(sims)), 1, nprobe)
    return F.transform(top, lambda s: s["cell"])


def _stack(vals) -> np.ndarray:
    return np.asarray([np.asarray(v, dtype=np.float64) for v in vals])


def _assign_matmul(sel: DataFrame, C: np.ndarray) -> DataFrame:
    """(n_id, cv, cell, _cn) from (n_id, cv): one BLAS X @ C.T per Arrow
    batch against an executor-broadcast centroid matrix — O(ncells x dim)
    literals never enter the plan, so ncells 10^4-10^6 costs one matmul,
    not an expression tree. Tie-break matches the expr path (largest cell
    id wins on equal sim): argmax over the column-reversed sim matrix.
    Adapts to the input element type: an array<float> cv computes, and is
    carried, in float32 (half the Arrow/shuffle bytes of the double
    path — the stage is memory-bandwidth-bound, so bytes ARE the cost)."""
    from pyspark.sql.types import (ArrayType, DoubleType, FloatType,
                                   IntegerType, StructField, StructType)

    f32 = isinstance(sel.schema["cv"].dataType.elementType, FloatType)
    np_t = np.float32 if f32 else np.float64
    elem = FloatType() if f32 else DoubleType()
    bc = sel.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(C, dtype=np_t))
    schema = StructType([
        sel.schema["n_id"],
        StructField("cv", ArrayType(elem), True),
        StructField("cell", IntegerType(), False),
        StructField("_cn", elem, False),
    ])

    # mapInARROW, not mapInPandas: the list column's flat value buffer
    # reshapes (near-)zero-copy into the (n, dim) matmul input, and the
    # id/vector columns PASS THROUGH as the original Arrow arrays — the
    # pandas route materializes one Python ndarray object per row on
    # both directions, and that allocator churn (not the matmul) was the
    # measured cost of the build at high worker counts.
    def gen(batches):
        import pyarrow as pa

        Cb = bc.value
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            cv = b.column(b.schema.get_field_index("cv"))
            X = _vector_matrix(cv, Cb.shape[1], "ivf_assign: column 'cv'")
            if X.dtype != np_t:
                X = X.astype(np_t)
            sims = X @ Cb.T
            cell = (sims.shape[1] - 1 - np.argmax(sims[:, ::-1], axis=1))
            cn = np.sqrt(np.einsum("ij,ij->i", X, X, dtype=np_t))
            yield pa.RecordBatch.from_arrays(
                [b.column(b.schema.get_field_index("n_id")), cv,
                 pa.array(cell.astype("int32"), type=pa.int32()),
                 pa.array(cn, type=pa.float32() if f32 else pa.float64())],
                ["n_id", "cv", "cell", "_cn"],
            )

    return sel.mapInArrow(gen, schema=schema)


def _probe_cells_matmul(sel: DataFrame, C: np.ndarray, nprobe: int) -> DataFrame:
    """(q_id, qv, _qn, cell) x nprobe from (q_id, qv): top-nprobe cells
    per query via one matmul per batch. Stable ascending argsort then
    reverse = sim desc with cell-id-desc tie-break — same order as the
    expr path's reverse(array_sort(struct(sim, cell)))."""
    from pyspark.sql.types import (ArrayType, DoubleType, IntegerType,
                                   StructField, StructType)

    bc = sel.sparkSession.sparkContext.broadcast(
        np.ascontiguousarray(C, dtype=np.float64))
    nprobe = min(nprobe, len(C))
    schema = StructType([
        sel.schema["q_id"],
        StructField("qv", ArrayType(DoubleType()), True),
        StructField("_qn", DoubleType(), False),
        StructField("cell", IntegerType(), False),
    ])

    def gen(it):
        Cb = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            X = _stack(pdf["qv"])
            sims = X @ Cb.T
            top = np.argsort(sims, axis=1, kind="stable")[:, ::-1][:, :nprobe]
            qn = np.sqrt(np.einsum("ij,ij->i", X, X))
            idx = np.repeat(np.arange(len(pdf)), nprobe)
            yield pd.DataFrame({
                "q_id": pdf["q_id"].to_numpy()[idx],
                "qv": pdf["qv"].iloc[idx].to_numpy(),
                "_qn": qn[idx],
                "cell": top.ravel().astype("int32"),
            })

    return sel.mapInPandas(gen, schema=schema)


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dtype: str = "float64",
) -> DataFrame:
    """IVF INDEX BUILD: assign each corpus vector to its nearest
    centroid — (n_id, cv, cell, _cn). O(corpus x ncells) dot products,
    paid ONCE; persist (or write bucketed by `cell` via
    sources.tables.save_bucketed_table) and serve many query batches
    from it. Norm precomputed per row (see brute_force_topk).

    The quantizer follows the centroid count: a pure-Column literal
    fold (DuckDB-twin exact) at ncells <= _EXPR_NCELLS_MAX, else the
    broadcast-centroid BLAS kernel (the scale path).

    dtype: 'float32' builds and CARRIES the index in single precision —
    embeddings are float32 at the source, so the double path spends 2x
    the Arrow/shuffle bytes for precision ANN scoring cannot use. The
    assignment stage is measured memory-bandwidth-bound (BENCH/ANN.md),
    so this halves its real cost; scoring in ivf_probe promotes to
    double at the arithmetic, losing nothing but the wasted bytes.
    Always runs the matmul quantizer (the literal-expr fold is the
    double-exact oracle path)."""
    if dtype == "float32":
        sel = _ensure_parallelism(corpus).select(
            F.col(id_col).alias("n_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("float")).alias("cv"))
        return _assign_matmul(sel, centroids)
    if dtype != "float64":
        raise ValueError(f"unknown dtype {dtype!r}")
    sel = _ensure_parallelism(corpus).select(
        F.col(id_col).alias("n_id"), _as_double(vec_col).alias("cv"))
    if len(centroids) <= _EXPR_NCELLS_MAX:
        return sel.withColumn(
            "cell",
            F.element_at(_nearest_centroids_expr(F.col("cv"), centroids, 1), 1),
        ).withColumn("_cn", _norm(F.col("cv")))
    return _assign_matmul(sel, centroids)


def cap_index_cells(index: DataFrame, max_cell: int,
                    id_col: str = "n_id"
                    ) -> tuple[DataFrame, DataFrame]:
    """Hot-cell guard for ANN serving (VERDICT r7 #6): IVF cell sizes
    are Zipf-ish on real corpora, and the probe join has per-cell cost
    ~|cell| x queries probing it — one hot cell dominates every probe
    that touches it. Returns ``(capped, audit)``: ``capped`` keeps at
    most ``max_cell`` rows per cell (deterministic hash-order rank, the
    _cap_hot_window family from dedup), ``audit`` lists every capped
    cell with (cell, n_rows, n_dropped) — no silent drops: callers
    surface the audit next to cell_balance, whose max_over_mean drift
    is the retrain/rebalance signal that REMOVES the need for the cap.

    Recall impact: dropped rows are unrankable for every query probing
    that cell, so per-query recall loss is bounded by the dropped
    fraction of its probed cells (uniform under the hash order). On a
    cell-bucketed index table the rank window reuses the bucketing —
    no exchange (plan-asserted in tests/test_bucketing.py)."""
    w = Window.partitionBy("cell").orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col))
    ranked = index.withColumn("_rk", F.row_number().over(w))
    capped = ranked.filter(F.col("_rk") <= max_cell).drop("_rk")
    audit = (ranked.groupBy("cell")
             .agg(F.count(F.lit(1)).alias("n_rows"))
             .filter(F.col("n_rows") > max_cell)
             .withColumn("n_dropped", F.col("n_rows") - max_cell))
    return capped, audit


def ivf_probe(
    queries: DataFrame,
    index: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    max_cell: int | None = None,
) -> DataFrame:
    """IVF QUERY: probe the nprobe nearest cells per query — a cell
    equi-join against the prebuilt index (same shape as the spatial
    prefilter), candidates shrink ~ncells/nprobe vs brute force. The
    quantizer follows the centroid count, as in ivf_assign.

    The probe side is broadcast so the corpus index is NEVER shuffled —
    the serving shape: query batches are interactively small while the
    index is the 10^9+-row side (and may be a bucketed table).

    ``max_cell`` (optional) bounds candidates per probed cell via
    cap_index_cells — use its standalone form to also get the audit of
    capped cells."""
    if max_cell is not None:
        index, _ = cap_index_cells(index, max_cell)
    if len(centroids) <= _EXPR_NCELLS_MAX:
        probes = queries.select(
            "q_id", F.col("qv"), _norm(F.col("qv")).alias("_qn"),
            F.explode(_nearest_centroids_expr(F.col("qv"), centroids, nprobe)).alias("cell"),
        )
    else:
        probes = _probe_cells_matmul(queries.select("q_id", "qv"), centroids, nprobe)
    # an explicit hint: mapInPandas output has no size statistics
    probes = F.broadcast(probes)
    # norms hoisted per row (see brute_force_topk) — bit-identical cosine
    # No pair dedup needed: ivf_assign places each corpus vector in exactly
    # ONE cell and the nprobe probe cells per query are distinct, so a
    # (q_id, n_id) pair can meet at most once in this equi-join. A
    # dropDuplicates here would add a full extra exchange of the widest
    # intermediate in the serving path to remove duplicates that cannot
    # exist. tests/test_pipeline_ops.py pins this uniqueness invariant so
    # a future multi-assignment index variant can't silently double-count.
    # NOTE (r9, negative result kept for the record): a mapInArrow
    # scoring kernel for the matmul branch (einsum per batch + partial
    # top-k, the ivf_pq_probe shape) measured 2x SLOWER at sf0.1 and
    # flat at sf1.0 — at serving candidate volumes the interpreted fold
    # is cheaper than Arrow-round-tripping two 64-float arrays per
    # candidate row, and the row's wall is scan-bound anyway. The JVM
    # fold stays; it is also what keeps this path bit-identical to the
    # DuckDB list_inner_product twin on the expr branch.
    scored = probes.join(index, "cell").filter(F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id",
        (_dot(F.col("qv"), F.col("cv"))
         / _safe_den(F.col("_qn") * F.col("_cn"))).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("n_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "sim")
    )


# ---------------------------------------------------------------- IVF-PQ
# (VERDICT r6 #4) At 10^12 rows a float32 IVF index is petabytes: the
# vector payload is dim x 4 bytes/row. Product quantization stores each
# vector as M single-byte codes instead — residual-encoded against the
# vector's coarse centroid (classic IVF-PQ): the UNIT-NORMALIZED vector
# x̂ is approximated as C[cell] + codebook_m[code_m] per subspace, so
# cosine(q, x) ≈ (dot(q, C[cell]) + Σ_m T_m[code_m]) / |q| with the
# per-query lookup tables T_m[c] = dot(q_m, cb_m[c]) computed ONCE per
# query per batch (asymmetric distance computation). Normalizing before
# encoding makes |x̂| = 1, so no stored norm is needed at all — the
# compressed index row is (n_id, cell, M bytes).
#
# Serving keeps recall via two stages: ADC ranks cheap compressed
# candidates, then the top k x refine_mult are re-scored EXACTLY against
# the original vectors fetched by id from the uncompressed corpus table
# (an equi-join touching only the finalists). PQ is opt-in; the ivf_topk
# oracle path is unchanged.


def train_pq(corpus: DataFrame, centroids: np.ndarray, m: int = 8,
             nbits: int = 8, vec_col: str = "embedding",
             id_col: str = "vec_id", sample: int = 4096,
             iters: int = 10, seed: int = 7) -> np.ndarray:
    """(m, 2**nbits, dim//m) residual codebooks — per-subspace k-means
    (L2) over coarse-assignment residuals of the same deterministic
    hash-ordered sample train_centroids uses.

    ``m`` sets the recall/compression point: more subspaces = finer
    reconstruction. Measured on the 200k x 64-dim clustered corpus
    (residual norm ~0.43 after 1024-cell coarse assignment), mean
    reconstruction error and refined recall@10: m=8 err 0.24 (recall
    0.73 at refine_mult=16), m=16 err 0.13 (0.98), m=32 err 0.04 (1.00
    at refine_mult=4). For within-cluster neighbour resolution pick
    m >= dim/4; m=8 suits coarser dedup-style thresholds."""
    dim = centroids.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub, k = dim // m, 1 << nbits
    X = _training_sample(corpus, vec_col, id_col, sample, "train_pq")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    R = X - centroids[np.argmax(X @ centroids.T, axis=1)]
    rng = np.random.default_rng(seed)
    books = np.empty((m, k, dsub), dtype=np.float64)
    for mi in range(m):
        S = R[:, mi * dsub:(mi + 1) * dsub]
        cb = S[rng.choice(len(S), size=min(k, len(S)), replace=False)]
        if len(cb) < k:  # degenerate tiny sample: tile up to k codes
            cb = np.tile(cb, (-(-k // len(cb)), 1))[:k]
        for _ in range(iters):
            d2 = ((S[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2) \
                if len(S) * k * dsub < 5e7 else None
            if d2 is None:  # blocked distance for big samples
                d2 = (S * S).sum(1)[:, None] - 2.0 * S @ cb.T \
                    + (cb * cb).sum(1)[None, :]
            a = d2.argmin(axis=1)
            for j in range(k):
                sel = a == j
                if sel.any():
                    cb[j] = S[sel].mean(axis=0)
        books[mi] = cb
    return books


def ivf_pq_assign(corpus: DataFrame, centroids: np.ndarray,
                  codebooks: np.ndarray, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """COMPRESSED IVF index build: (n_id, cell, codes) with ``codes`` =
    M bytes of residual PQ codes. One fused mapInArrow pass per batch:
    coarse argmax (same BLAS matmul and tie-break as _assign_matmul),
    unit-normalize, residual, per-subspace nearest-code argmin."""
    import pyarrow as pa
    from pyspark.sql.types import (BinaryType, IntegerType, StructField,
                                   StructType)

    sel = _ensure_parallelism(corpus).select(
        F.col(id_col).alias("n_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("float")).alias("cv"))
    sc = sel.sparkSession.sparkContext
    bc_C = sc.broadcast(np.ascontiguousarray(centroids, dtype=np.float32))
    bc_B = sc.broadcast(np.ascontiguousarray(codebooks, dtype=np.float32))
    schema = StructType([
        sel.schema["n_id"],
        StructField("cell", IntegerType(), False),
        StructField("codes", BinaryType(), False),
    ])

    def gen(batches):
        C, B = bc_C.value, bc_B.value
        m, _k, dsub = B.shape
        # codebook norms hoisted once per task; ROW-BLOCKED encode keeps
        # the (block, 256) distance temporaries cache-resident instead of
        # streaming (n, 256) x m through the memory bus per batch —
        # measured 1.2x single-core at 8k-row batches (block=2048), and
        # the stage is bandwidth-bound at high worker counts where the
        # saved traffic matters most (BENCH/BASELINE.md pq_encode)
        cn2 = np.stack([(B[mi] * B[mi]).sum(1) for mi in range(m)])
        BLOCK = 2048
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            X = _vector_matrix(b.column(b.schema.get_field_index("cv")),
                               C.shape[1], "ivf_pq_assign: column 'cv'")
            if X.dtype != np.float32:
                X = X.astype(np.float32)
            cell = np.empty(n, dtype=np.int64)
            codes = np.empty((n, m), dtype=np.uint8)
            for s in range(0, n, BLOCK):
                Xb = X[s:s + BLOCK]
                sims = Xb @ C.T
                cb_cell = sims.shape[1] - 1 - np.argmax(sims[:, ::-1], axis=1)
                Xh = Xb / np.maximum(
                    np.linalg.norm(Xb, axis=1, keepdims=True), 1e-12)
                R = Xh - C[cb_cell]
                for mi in range(m):
                    S = R[:, mi * dsub:(mi + 1) * dsub]
                    # argmin ||s - c||^2 = argmin (|c|^2 - 2 s.c)
                    d = cn2[mi][None, :] - 2.0 * (S @ B[mi].T)
                    codes[s:s + BLOCK, mi] = d.argmin(axis=1).astype(np.uint8)
                cell[s:s + BLOCK] = cb_cell
            yield pa.RecordBatch.from_arrays(
                [b.column(b.schema.get_field_index("n_id")),
                 pa.array(cell.astype("int32"), type=pa.int32()),
                 pa.array(list(codes.tobytes()[i * m:(i + 1) * m]
                               for i in range(n)), type=pa.binary())],
                ["n_id", "cell", "codes"],
            )

    return sel.mapInArrow(gen, schema=schema)


def _codes_matrix(arr, n: int, m: int) -> np.ndarray:
    """(n, m) uint8 view over a BinaryArray of fixed m-byte codes —
    reads the values buffer through the offsets buffer (zero-copy for
    the dense case) instead of materializing n Python bytes objects
    (to_pylist measured ~4x slower on the ADC probe's hot path)."""
    off_buf, data_buf = arr.buffers()[1], arr.buffers()[2]
    off = np.frombuffer(off_buf, dtype=np.int32)[arr.offset:arr.offset + n + 1]
    data = np.frombuffer(data_buf, dtype=np.uint8)
    if off[-1] - off[0] == n * m and (n == 0 or np.all(np.diff(off) == m)):
        return data[off[0]:off[-1]].reshape(n, m)
    raise ValueError(f"codes column is not fixed {m}-byte binary")


def ivf_pq_probe(queries: DataFrame, index_pq: DataFrame,
                 centroids: np.ndarray, codebooks: np.ndarray,
                 k: int = 5, nprobe: int = 4,
                 refine_corpus: DataFrame | None = None,
                 refine_mult: int = 16,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 max_cell: int | None = None,
                 approx_ok: bool = False) -> DataFrame:
    """Query the COMPRESSED index: probe cells exactly like ivf_probe,
    score candidates by asymmetric distance (per-query lookup tables
    over the codebooks — one small matmul per unique query per batch,
    then a byte-gather per candidate), keep top k*refine_mult, and
    re-rank EXACTLY against ``refine_corpus`` (equi-join by id touching
    finalists only). Without a refine corpus, returns ADC-ranked top-k
    (sim is then approximate) — measured recall without refine drops to
    ~0.26 on clustered corpora whose neighbours differ only in
    within-cluster residual (the train_pq docstring's m-curve), so the
    approximate mode must be requested explicitly with
    ``approx_ok=True``. ``max_cell`` bounds candidates per probed cell
    (see cap_index_cells)."""
    import pyarrow as pa
    from pyspark.sql.types import (DoubleType, StructField, StructType)

    if refine_corpus is None and not approx_ok:
        raise ValueError(
            "ivf_pq_probe without refine_corpus returns ADC-approximate "
            "ranks (recall can be far below the refined 0.93 — see "
            "docstring); pass refine_corpus=... or opt in explicitly "
            "with approx_ok=True")

    if max_cell is not None:
        index_pq, _ = cap_index_cells(index_pq, max_cell)
    probes = _probe_cells_matmul(
        queries.select("q_id", "qv"), centroids, nprobe)
    # an explicit hint: mapInPandas output has no size statistics
    cand = F.broadcast(probes).join(index_pq, "cell")
    sc = cand.sparkSession.sparkContext
    bc_C = sc.broadcast(np.ascontiguousarray(centroids, dtype=np.float64))
    bc_B = sc.broadcast(np.ascontiguousarray(codebooks, dtype=np.float64))
    sel = cand.select("q_id", "qv", "_qn", "cell", "n_id", "codes")
    schema = StructType([
        sel.schema["q_id"], sel.schema["n_id"],
        StructField("sim", DoubleType(), False),
    ])
    kk = k * refine_mult if refine_corpus is not None else k

    def gen(batches):
        C, B = bc_C.value, bc_B.value
        m, _k, dsub = B.shape
        for b in batches:
            n = b.num_rows
            if not n:
                continue
            qid = b.column(0).to_numpy(zero_copy_only=False)
            Q = _vector_matrix(b.column(1), C.shape[1],
                               "ivf_pq_probe: column 'qv'")
            qn = b.column(2).to_numpy(zero_copy_only=False)
            cell = b.column(3).to_numpy(zero_copy_only=False)
            codes = _codes_matrix(b.column(5), n, m)
            # lookup tables once per unique query in the batch (any row
            # of a query carries the same qv — pick one per unique id)
            uq, uidx = np.unique(qid, return_inverse=True)
            rep = np.zeros(len(uq), dtype=np.int64)
            rep[uidx] = np.arange(n)
            Qu = Q[rep]
            T = np.einsum("umd,mkd->umk",
                          Qu.reshape(len(uq), m, dsub), B)
            qc = Qu @ C.T                       # (u, ncells)
            adc = T[uidx[:, None], np.arange(m)[None, :], codes].sum(axis=1)
            sim = (qc[uidx, cell] + adc) / np.maximum(qn, 1e-300)
            # partial top-kk PER QUERY inside the kernel (VERDICT r7
            # #3): a row_number window over every (query x nprobe-cell)
            # candidate row sorts the full candidate set per query — a
            # hot IVF cell inflates one window partition at scale. The
            # kernel already sees (q_id, sim), so cut each batch down
            # to its per-query top kk here; the downstream window then
            # ranks <= kk rows per (query, batch) — bounded exchange,
            # identical result (any batch row outside its own batch
            # top-kk cannot be in the global top-kk). Tie-safe: rows
            # EQUAL to the kk-th sim are kept too, so the window's
            # (sim desc, n_id asc) tie-break still sees every
            # contender regardless of id dtype. kk+1 (not kk) because
            # the q_id != n_id self-filter runs downstream: the one
            # batch holding a query's own row must not let it crowd a
            # real contender out of the cut.
            cut = kk + 1
            if len(sim) > cut:
                order = np.lexsort((-sim, uidx))
                su, ss = uidx[order], sim[order]
                starts = np.flatnonzero(
                    np.r_[True, su[1:] != su[:-1]])
                ends = np.r_[starts[1:], len(su)]
                grp = np.repeat(np.arange(len(starts)), ends - starts)
                rank = np.arange(len(su)) - starts[grp]
                thr = ss[np.minimum(starts + cut - 1, ends - 1)]
                keep = np.sort(order[(rank < cut) | (ss >= thr[grp])])
                idx = pa.array(keep)
                qcol, ncol = b.column(0).take(idx), b.column(4).take(idx)
                sim = sim[keep]
            else:
                qcol, ncol = b.column(0), b.column(4)
            yield pa.RecordBatch.from_arrays(
                [qcol, ncol, pa.array(sim, type=pa.float64())],
                ["q_id", "n_id", "sim"])

    scored = sel.mapInArrow(gen, schema=schema) \
        .filter(F.col("q_id") != F.col("n_id"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc(), F.col("n_id").asc())
    top = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= kk))
    if refine_corpus is None:
        return top.select("q_id", "n_id", "rank", "sim")
    # refine side stays RAW through the join (r9): the former shape
    # computed the double-cast and the _norm fold for EVERY corpus row
    # below the broadcast join — ~|corpus| interpreted 64-term folds to
    # keep nq x k x refine_mult finalists. Deferring both expressions to
    # after the join evaluates them only for finalist rows (identical
    # composition of the same expressions on the same values, so sims
    # and ranks are unchanged — the ivf_pq_topk oracle stays hash-exact)
    # and the join itself streams the narrower raw float column.
    ref = refine_corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("_rv"))
    cv = _as_double("_rv")
    qside = F.broadcast(queries.select(
        "q_id", "qv", _norm(F.col("qv")).alias("_qn")))
    # finalists are nq x k x refine_mult by construction (tiny), but
    # they arrive through a window over a mapInArrow stage whose stats
    # Catalyst can't see — hint the broadcast so the corpus side streams
    # map-side instead of shuffling for a sort-merge join
    exact = (F.broadcast(top.select("q_id", "n_id"))
             .join(ref, "n_id").join(qside, "q_id")
             .select("q_id", "n_id",
                     (_dot(F.col("qv"), cv)
                      / _safe_den(F.col("_qn") * _norm(cv))).alias("sim")))
    return (exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "n_id", "rank", "sim"))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    ncells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """One-shot IVF top-k = ivf_assign + ivf_probe. For repeated query
    batches build the index once with ivf_assign and call ivf_probe —
    the assignment is the dominant cost and amortizes across batches."""
    C = centroids if centroids is not None else train_centroids(
        corpus, ncells, vec_col, id_col=id_col)
    return ivf_probe(queries, ivf_assign(corpus, C, vec_col, id_col),
                     C, k, nprobe)
