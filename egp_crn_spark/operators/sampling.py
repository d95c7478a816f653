"""Dataset assembly for training pipelines: deterministic splits,
stratified sampling, and sequence packing.

The last mile of a training-data pipeline — after dedup/quality/ANN
filtering, the surviving corpus must be split, balanced, and packed into
fixed-token chunks. All three operators here are DETERMINISTIC functions
of (row identity, seed): re-running on the same corpus yields the same
assignment regardless of partitioning, cluster size, or row order —
the property that makes splits auditable and resumable at 100 TB.
`df.sample()` / `randomSplit()` deliberately do NOT have it (they sample
per-partition with partition-seeded RNGs, so a repartition reshuffles
membership).

Scale shapes:
- hash_split / stratified_sample: pure Column expressions / one shuffle.
- pack_chunks: a distributed prefix sum — deterministic hash-prefix
  buckets, bucket-local cumsum (parallel window), and a driver-side
  base-offset table of ONE row per non-empty bucket (metadata-sized,
  broadcast back). Chunk ids depend only on the global unsigned-hash
  order and token counts — bucket membership is a pure row function, so
  the result is identical across partitioning layouts and jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_BUCKETS = 1_000_000


def _md5_key(id_col: str, seed: int, epoch: int = 0):
    """32-hex-char deterministic key — the ANSI-SQL-reproducible twin of
    the xxhash64 bucket (same contract as dedup's use_md5 oracle mode):
    lexicographic order of the lowercase hex digest IS the numeric order
    of the 128-bit hash, so thresholding/ordering compares strings on
    both engines identically."""
    prefix = f"{seed}|" if epoch == 0 else f"{seed}e{epoch}|"
    return F.md5(F.concat(F.lit(prefix), F.col(id_col).cast("string")))


def _hex_threshold(fraction: float) -> str:
    """Hex-string threshold t with P(md5 < t) = fraction: floor(fraction
    * 2^128) as 32 hex chars (``fraction >= 1`` returns 'g', above every
    hex digest)."""
    v = int(fraction * (1 << 128))
    if v >= (1 << 128):
        return "g"
    return format(max(v, 0), "032x")


def _xx_key(id_col: str, seed: int, epoch: int = 0):
    args = [F.lit(seed)] + ([F.lit(epoch)] if epoch else []) + [F.col(id_col)]
    return F.xxhash64(*args)


def hash_split(df: DataFrame, weights: dict[str, float],
               id_col: str = "doc_id", seed: int = 7,
               split_col: str = "split", use_md5: bool = False) -> DataFrame:
    """Deterministic train/val/test split: each row's bucket =
    xxhash64(seed, id) mod 1e6, thresholded by cumulative weights.
    Membership is a pure function of (id, seed) — stable under
    repartition, append-only growth, and re-runs (new rows never move
    old rows between splits, unlike randomSplit).

    use_md5=True swaps the bucket for the md5 hex key so a DuckDB
    oracle reproduces the exact membership (CORRECTNESS hash_split_docs
    query); xxhash64 stays the production default (JVM codegen, no
    string materialization)."""
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("hash_split needs positive weights")
    if use_md5:
        key = _md5_key(id_col, seed)
        thr = lambda frac: F.lit(_hex_threshold(frac))  # noqa: E731
    else:
        key = F.pmod(_xx_key(id_col, seed), F.lit(_BUCKETS))
        thr = lambda frac: F.lit(int(frac * _BUCKETS))  # noqa: E731
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = key < thr(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn(split_col, last)


def hash_sample(df: DataFrame, fraction: float,
                id_col: str = "doc_id", seed: int = 7,
                stratum_col: str | None = None,
                fractions: dict | None = None,
                use_md5: bool = False) -> DataFrame:
    """Deterministic Bernoulli-by-hash sample: keep rows whose hash
    bucket falls under fraction * 1e6 — a pure row function (stable
    under repartition/growth, like hash_split), and ZERO shuffles,
    unlike df.sample(). ``fractions`` overrides the rate per stratum
    value (e.g. downsample dominant languages: {"en": 0.1}), with
    ``fraction`` the default for unlisted strata — the weighted-mix
    primitive of corpus curation. use_md5=True: the SQL-reproducible
    oracle key (see hash_split)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    if use_md5:
        key = _md5_key(id_col, seed)
        mk = lambda fr: F.lit(_hex_threshold(fr))  # noqa: E731
    else:
        key = F.pmod(_xx_key(id_col, seed), F.lit(_BUCKETS))
        mk = lambda fr: F.lit(int(fr * _BUCKETS))  # noqa: E731
    if fractions:
        if stratum_col is None:
            raise ValueError("fractions needs stratum_col")
        thresh = None
        for val, fr in fractions.items():
            if not 0.0 <= fr <= 1.0:
                raise ValueError(f"fraction for {val!r} must be in [0, 1]")
            cond = F.col(stratum_col) == val
            thresh = F.when(cond, mk(fr)) if thresh is None \
                else thresh.when(cond, mk(fr))
        thresh = thresh.otherwise(mk(fraction))
    else:
        thresh = mk(fraction)
    return df.filter(key < thresh)


def stratified_sample(df: DataFrame, strata: list[str], n_per_stratum: int,
                      id_col: str = "doc_id", seed: int = 7,
                      use_md5: bool = False) -> DataFrame:
    """EXACTLY min(n, stratum size) rows per stratum, chosen by hash
    order — deterministic and unbiased for ordered corpora (the first n
    ids of a time-ordered table are not a representative slice; a hash
    order is — same rationale as similarity.train_centroids). One
    shuffle (the window partition). use_md5=True: the SQL-reproducible
    oracle order key (see hash_split)."""
    key = _md5_key(id_col, seed) if use_md5 else _xx_key(id_col, seed)
    w = Window.partitionBy(*strata).orderBy(key, F.col(id_col))
    return (df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= n_per_stratum).drop("_rk"))


def pack_chunks(df: DataFrame, token_col: str, chunk_tokens: int,
                id_col: str = "doc_id", seed: int = 7,
                bucket_bits: int = 10, epoch: int = 0,
                use_md5: bool = False) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in
    deterministic hash order (UNSIGNED xxhash64 ascending) and cut into
    fixed-size token chunks; each doc is assigned (chunk_id,
    chunk_offset) of its START token — the standard "concatenate the
    corpus, split every N tokens" packing of LLM pretraining, as a
    distributed prefix sum:

      1. bucket by the hash's top ``bucket_bits`` bits — a PURE FUNCTION
         of (id, seed), so job 1 and job 2 agree on membership (a
         repartitionByRange formulation failed exactly here: its
         boundaries are re-SAMPLED per job, and a boundary shift between
         the offsets job and the output job silently misaligns offsets —
         caught by the 1M-doc coverage invariant in assembly_demo);
      2. bucket-local running sum via a window (parallel — 2^bits
         independent window partitions, uniform because the hash is);
      3. bucket base offsets from a driver-side aggregate of one row per
         non-empty bucket (metadata-sized), broadcast-joined back.

    Rows with token_count <= 0 raise (a silent 0 would misalign every
    later offset).

    ``epoch`` salts the hash seed so multi-epoch training gets a
    DISTINCT, individually stable layout per epoch (epoch 0 == the
    historical seed-only layout). ``use_md5=True`` swaps the order key
    for the md5 hex digest (bucket = leading bucket_bits/4 hex chars —
    bucket_bits must then be a multiple of 4) so a DuckDB oracle can
    replay the exact global layout with one cumulative-sum window
    (CORRECTNESS pack_chunks_docs)."""
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if not (1 <= bucket_bits <= 20):
        raise ValueError("bucket_bits must be in [1, 20]")
    if use_md5:
        if bucket_bits % 4:
            raise ValueError("md5 mode needs bucket_bits % 4 == 0")
        # hex digest: lexicographic == numeric order; the bucket is the
        # digest's own prefix, so bucket order == global hash order
        ordered = (
            df.withColumn("_ord", _md5_key(id_col, seed, epoch))
            .withColumn("_bkt", F.substring("_ord", 1, bucket_bits // 4))
            .withColumn("_osgn", F.col("_ord"))
        )
        bkt_type = "string"
    else:
        # unsigned-order machinery: _bkt = top bits (unsigned), and
        # within a bucket every hash shares bit 63, so flipping it (XOR
        # long-min) makes SIGNED ordering of _osgn equal the unsigned
        # hash ordering
        ordered = (
            df.withColumn("_ord", _xx_key(id_col, seed, epoch))
            .withColumn("_bkt", F.shiftrightunsigned(F.col("_ord"),
                                                     64 - bucket_bits))
            .withColumn("_osgn", F.col("_ord").bitwiseXOR(F.lit(-(2 ** 63))))
        )
        bkt_type = "long"
    w = Window.partitionBy("_bkt").orderBy("_osgn", id_col)
    local = ordered.withColumn("_cum", F.sum(token_col).over(w))

    sums = local.groupBy("_bkt").agg(F.max("_cum").alias("_t")).collect()
    if any(r["_t"] is None for r in sums):
        raise ValueError(f"pack_chunks: null {token_col}")
    spark = df.sparkSession
    acc = 0
    rows = []
    for r in sorted(sums, key=lambda r: r["_bkt"]):
        rows.append((r["_bkt"], acc))
        acc += r["_t"]
    off = F.broadcast(
        spark.createDataFrame(rows, f"_bkt {bkt_type}, _base long"))
    # the assert folds INTO the start expression (null when passing) so
    # column pruning can never elide it
    guard = F.assert_true(
        F.col(token_col) > 0,
        F.concat(F.lit("pack_chunks: non-positive token count for id "),
                 F.col(id_col).cast("string")))
    start = (F.col("_base") + F.col("_cum") - F.col(token_col)
             + F.coalesce(guard.cast("long"), F.lit(0)))
    return (
        local.join(off, "_bkt")
        .withColumn("_start", start)
        .withColumn("chunk_id", (F.col("_start") / chunk_tokens).cast("long"))
        .withColumn("chunk_offset",
                    F.pmod(F.col("_start"), F.lit(chunk_tokens)))
        .drop("_ord", "_bkt", "_osgn", "_cum", "_base", "_start")
    )


def chunk_slices(packed: DataFrame, token_col: str,
                 chunk_tokens: int) -> DataFrame:
    """Expand pack_chunks output into per-(chunk, doc) slices — the
    shape a tensor-assembly stage consumes: for every chunk a document
    contributes tokens to, one row (chunk_id, doc_id, doc_from, pos, n)
    meaning "tokens [doc_from, doc_from+n) of doc_id land at positions
    [pos, pos+n) of chunk_id". Pure Column expressions (sequence +
    posexplode — no shuffle, no Python): a doc starting at chunk_offset
    with T tokens spans ceil((chunk_offset + T) / chunk_tokens) chunks;
    grouping the result by chunk_id yields each chunk's exact
    construction recipe, covering all chunk_tokens positions of every
    full chunk with no gaps or overlaps (pinned in tests)."""
    T = F.col(token_col).cast("long")
    off0 = F.col("chunk_offset")
    last = ((off0 + T - F.lit(1)) / chunk_tokens).cast("long")
    seq = F.sequence(F.lit(0).cast("long"), last)
    e = packed.select(
        "*", F.posexplode(seq).alias("_i", "_c")).drop("_c")
    first = F.col("_i") == 0
    doc_from = F.when(first, F.lit(0).cast("long")).otherwise(
        F.lit(chunk_tokens) - off0 + (F.col("_i") - 1) * chunk_tokens)
    pos = F.when(first, off0.cast("long")).otherwise(F.lit(0).cast("long"))
    return e.select(
        (F.col("chunk_id") + F.col("_i")).alias("chunk_id"),
        *[c for c in packed.columns
          if c not in ("chunk_id", "chunk_offset")],
        doc_from.alias("doc_from"),
        pos.alias("pos"),
        F.least(T - doc_from, F.lit(chunk_tokens) - pos).alias("n"))
