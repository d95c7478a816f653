"""Driver-contract queries, batch 5 (round 8): the round-7 components
get CORRECTNESS rows — dataset assembly (hash_split / hash_sample /
stratified_sample / pack_chunks + chunk_slices), incremental view
maintenance, incremental index maintenance (live == rebuild), and the
IVF-PQ compressed index.

Same contract as driverq.py: QUERIES5[name] = (spark_fn, oracle_sql).
Every entry here carries a FULL value oracle: the sampling operators'
``use_md5`` mode (the same oracle contract dedup's minhash/simhash
established) makes the hash itself ANSI-SQL-reproducible, and the ANN
entries use data-independent seeded centroids/codebooks inlined as SQL
literals (the ivf_topk pattern, driverq2.py).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

import numpy as np
from pyspark.sql import functions as F

from .driverq2 import (_IVF_C, _IVF_NPROBE, _centroid_values_sql,
                       _ivf_queries)
from .operators import index_maintain as IXM
from .operators import sampling as SA
from .operators import similarity as SIM
from .operators.incremental import (aggregate_delta, merge_aggregate_state,
                                    snapshot_aggregate)
from .session import read_table

# ------------------------------------------------------------- hash_split
_HS_W = {"train": 0.8, "val": 0.1, "test": 0.1}


def q_hash_split(spark, sf_dir):
    """Deterministic corpus split, full membership oracle: every doc's
    split is a pure function of (id, seed) that DuckDB recomputes from
    the md5 key (sampling.hash_split use_md5 mode)."""
    d = read_table(spark, sf_dir, "documents")
    return SA.hash_split(d, _HS_W, use_md5=True).select("doc_id", "split")


def _md5_key_sql(seed: int = 7, id_sql: str = "doc_id",
                 epoch: int = 0) -> str:
    prefix = f"{seed}|" if epoch == 0 else f"{seed}e{epoch}|"
    return f"md5('{prefix}' || cast({id_sql} as varchar))"


SQL_HASH_SPLIT = f"""
  select doc_id,
         case when {_md5_key_sql()} < '{SA._hex_threshold(0.8)}' then 'train'
              when {_md5_key_sql()} < '{SA._hex_threshold(0.9)}' then 'val'
              else 'test' end as split
  from documents
"""


# ------------------------------------------------------------ hash_sample
_HSAMP_FR = {"en": 0.25, "zh": 0.5}
_HSAMP_DEFAULT = 0.75


def q_hash_sample(spark, sf_dir):
    """Per-stratum-rate Bernoulli-by-hash sample (downsample dominant
    languages) — zero-shuffle membership, md5 oracle mode."""
    d = read_table(spark, sf_dir, "documents")
    return SA.hash_sample(d, _HSAMP_DEFAULT, stratum_col="lang",
                          fractions=_HSAMP_FR, use_md5=True) \
        .select("doc_id", "lang")


SQL_HASH_SAMPLE = f"""
  select doc_id, lang from documents
  where {_md5_key_sql()} <
        case when lang = 'en' then '{SA._hex_threshold(0.25)}'
             when lang = 'zh' then '{SA._hex_threshold(0.5)}'
             else '{SA._hex_threshold(0.75)}' end
"""


# ------------------------------------------------------ stratified_sample
_SS_N = 20


def q_stratified_sample(spark, sf_dir):
    """Exactly min(n, |stratum|) docs per language in deterministic
    hash order — the unbiased fixed-count sampler."""
    d = read_table(spark, sf_dir, "documents")
    return SA.stratified_sample(d, ["lang"], _SS_N, use_md5=True) \
        .select("doc_id", "lang", "source")


SQL_STRATIFIED_SAMPLE = f"""
  select doc_id, lang, source from (
    select doc_id, lang, source,
           row_number() over (partition by lang
                              order by {_md5_key_sql()}, doc_id) as rk
    from documents) where rk <= {_SS_N}
"""


# ----------------------------------------------------------- pack_chunks
_PC_CHUNK = 4096


def q_pack_chunks(spark, sf_dir):
    """Concat-and-chunk sequence packing (distributed prefix sum over
    hash-prefix buckets); oracle = ONE global cumulative-sum window in
    DuckDB over the identical md5 order — every (chunk_id, chunk_offset)
    must agree, which pins the bucket/base-offset machinery end to
    end."""
    d = read_table(spark, sf_dir, "documents")
    return SA.pack_chunks(d, "n_chars", _PC_CHUNK, bucket_bits=8,
                          use_md5=True) \
        .select("doc_id", "chunk_id", F.col("chunk_offset").cast("long")
                .alias("chunk_offset"))


SQL_PACK_CHUNKS = f"""
  select doc_id, cast(s // {_PC_CHUNK} as bigint) as chunk_id,
         cast(s % {_PC_CHUNK} as bigint) as chunk_offset
  from (
    select doc_id,
           sum(n_chars) over (order by {_md5_key_sql()}, doc_id
                              rows between unbounded preceding
                              and current row) - n_chars as s
    from documents)
"""


# ---------------------------------------------------------- chunk_slices
def q_chunk_slices(spark, sf_dir):
    """Tensor-assembly expansion of the packed layout: one row per
    (chunk, doc) slice with exact in-doc and in-chunk extents — the
    oracle replays the expansion with a lateral range per doc, so
    coverage (no gaps, no overlaps) is value-checked row by row."""
    d = read_table(spark, sf_dir, "documents")
    packed = SA.pack_chunks(d, "n_chars", _PC_CHUNK, bucket_bits=8,
                            use_md5=True)
    return SA.chunk_slices(packed, "n_chars", _PC_CHUNK).select(
        "chunk_id", "doc_id", "doc_from", F.col("pos").cast("long")
        .alias("pos"), "n")


SQL_CHUNK_SLICES = f"""
  with packed as (
    select doc_id, n_chars, cast(s // {_PC_CHUNK} as bigint) as chunk_id,
           cast(s % {_PC_CHUNK} as bigint) as chunk_offset
    from (
      select doc_id, n_chars,
             sum(n_chars) over (order by {_md5_key_sql()}, doc_id
                                rows between unbounded preceding
                                and current row) - n_chars as s
      from documents)),
  e as (select *, unnest(range(0, cast((chunk_offset + n_chars - 1)
                               // {_PC_CHUNK} + 1 as bigint))) as i
        from packed)
  select cast(chunk_id + i as bigint) as chunk_id, doc_id,
         cast(case when i = 0 then 0
              else {_PC_CHUNK} - chunk_offset + (i - 1) * {_PC_CHUNK}
         end as bigint) as doc_from,
         cast(case when i = 0 then chunk_offset else 0 end as bigint) as pos,
         cast(least(n_chars - (case when i = 0 then 0
                               else {_PC_CHUNK} - chunk_offset
                                    + (i - 1) * {_PC_CHUNK} end),
               {_PC_CHUNK} - (case when i = 0 then chunk_offset
                              else 0 end)) as bigint) as n
  from e
"""


# -------------------------------------------- incremental view maintenance
def q_view_maintain(spark, sf_dir):
    """Incremental view maintenance (operators/incremental.py): start
    from the aggregate of a base vintage (orders with o_orderkey % 7
    != 0), advance it with a changelog (inserts: the % 7 == 0 rows;
    deletes: base rows with % 5 == 0) — the maintained state must equal
    the direct aggregate of the final row set, which is what the oracle
    computes from scratch."""
    o = read_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 7 != 0)
    ins = o.filter(F.col("o_orderkey") % 7 == 0) \
        .withColumn("_change_type", F.lit("insert"))
    dels = base.filter(F.col("o_orderkey") % 5 == 0) \
        .withColumn("_change_type", F.lit("delete"))
    keys = ["o_orderpriority"]
    sums = {"sum_cust": F.col("o_custkey")}
    state = snapshot_aggregate(base, keys, sums)
    delta = aggregate_delta(ins.unionByName(dels), keys, sums)
    out = merge_aggregate_state(state, delta, keys, sums)
    return out.select("o_orderpriority", F.col("_rows").alias("n_rows"),
                      "sum_cust")


SQL_VIEW_MAINTAIN = """
  select o_orderpriority, count(*) as n_rows,
         cast(sum(o_custkey) as bigint) as sum_cust
  from orders
  where o_orderkey % 7 = 0
     or (o_orderkey % 7 != 0 and o_orderkey % 5 != 0)
  group by o_orderpriority
"""


# ------------------------------------------- incremental index maintenance
def q_index_maintain_live(spark, sf_dir):
    """live_index(maintained) == from-scratch rebuild, driver-checked:
    generation 1 inserts vec_id % 3 != 0; generation 2 inserts the
    % 3 == 0 rows, deletes % 5 == 0 survivors, and UPDATES (delete +
    re-insert, the changelog shape snaplog emits for rewritten files)
    the % 7 == 0 rows. Returns per-cell live counts, which the oracle
    recomputes by assigning the final live id set to the same literal
    centroids (tie-break: highest cell, matching the matmul kernel's
    last-argmax)."""
    emb = read_table(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    a_pred = vid % 3 != 0
    u_pred = (vid % 7 == 0) & a_pred
    d_pred = ((vid % 5 == 0) & a_pred & ~u_pred) | u_pred
    i2_pred = (vid % 3 == 0) | u_pred
    ch1 = emb.filter(a_pred).withColumn("_change_type", F.lit("insert"))
    idx1, tomb1 = IXM.index_delta(ch1, _IVF_C, as_of=1)
    ch2 = emb.filter(i2_pred).withColumn("_change_type", F.lit("insert")) \
        .unionByName(emb.filter(d_pred)
                     .withColumn("_change_type", F.lit("delete")))
    idx2, tomb2 = IXM.index_delta(ch2, _IVF_C, as_of=2)
    live = IXM.live_index(idx1.unionByName(idx2),
                          tomb1.unionByName(tomb2))
    return live.groupBy("cell").agg(F.count(F.lit(1)).alias("n_live"))


SQL_INDEX_MAINTAIN_LIVE = f"""
  with live as (
    select vec_id as n_id, embedding::DOUBLE[] as nv from embeddings
    where vec_id % 3 = 0 or vec_id % 7 = 0
       or (vec_id % 3 != 0 and vec_id % 5 != 0)),
  cent as (select * from {_centroid_values_sql()}),
  assign as (
    select n_id, cell from (
      select n_id, cell,
             row_number() over (partition by n_id
                                order by list_inner_product(nv, cv) desc,
                                         cell desc) as rn
      from live, cent) where rn = 1)
  select cell, count(*) as n_live from assign group by cell
"""


# ------------------------------------------------------------- IVF-PQ ANN
# Data-independent seeded codebooks (the ivf_topk seeded-centroid
# pattern extended to PQ): encode, ADC scoring, and exact refine are
# all SQL-expressible, so the COMPRESSED index path gets a full value
# oracle including a per-row in_exact recall flag.
_PQ_M, _PQ_CODES, _PQ_DSUB = 8, 16, 8  # m * dsub = 64 = _IVF_DIM
_PQ_K, _PQ_REFINE = 5, 8


def _pq_codebooks() -> np.ndarray:
    rng = np.random.default_rng(20250817)
    return rng.standard_normal((_PQ_M, _PQ_CODES, _PQ_DSUB)) * 0.2


_PQ_B = _pq_codebooks()


def q_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ top-k with per-row in_exact recall flag (the compressed
    twin of ivf_topk): residual-encode the corpus (ivf_pq_assign),
    probe + ADC-score + exact-refine (ivf_pq_probe), flag each result
    against the brute-force exact top-k."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = _ivf_queries(spark, sf_dir)
    idx = SIM.ivf_pq_assign(emb, _IVF_C, _PQ_B)
    pq = SIM.ivf_pq_probe(
        queries, idx, _IVF_C, _PQ_B, k=_PQ_K, nprobe=_IVF_NPROBE,
        refine_corpus=emb, refine_mult=_PQ_REFINE,
    ).select("q_id", "n_id", F.col("rank").cast("long").alias("rank"))
    bf = SIM.brute_force_topk(queries, emb, k=_PQ_K).select(
        "q_id", "n_id", F.lit(True).alias("in_exact"))
    return pq.join(bf, ["q_id", "n_id"], "left").fillna({"in_exact": False})


def _codebook_values_sql() -> str:
    rows = ", ".join(
        f"({mi}, {j}, [{', '.join(repr(float(x)) for x in _PQ_B[mi, j])}]"
        "::double[])"
        for mi in range(_PQ_M) for j in range(_PQ_CODES))
    return f"(values {rows}) as books(mi, code, bv)"


SQL_IVF_PQ_TOPK = f"""
  with q as (select vec_id as q_id, embedding::DOUBLE[] as qv
             from embeddings where vec_id % 50 = 0),
  corpus as (select vec_id as n_id, embedding::DOUBLE[] as nv
             from embeddings),
  cent as (select * from {_centroid_values_sql()}),
  books as (select * from {_codebook_values_sql()}),
  n_assign as (
    select n_id, nv, cell, cv from (
      select n_id, nv, cell, cv,
             row_number() over (partition by n_id
                                order by list_inner_product(nv, cv) desc,
                                         cell desc) as rn
      from corpus, cent) where rn = 1),
  resid as (
    select n_id, cell,
           list_transform(range(1, {_PQ_M * _PQ_DSUB} + 1),
             i -> nv[i] / greatest(sqrt(list_inner_product(nv, nv)), 1e-12)
                  - cv[i]) as rv
    from n_assign),
  codes as (
    select n_id, cell, mi, code, bv from (
      select n_id, cell, mi, code, bv,
             row_number() over (partition by n_id, mi
               order by list_distance(
                 list_slice(rv, mi * {_PQ_DSUB} + 1,
                            (mi + 1) * {_PQ_DSUB})::double[], bv) asc,
                 code asc) as rn
      from resid, books) where rn = 1),
  probes as (
    select q_id, qv, cell from (
      select q_id, qv, cell,
             row_number() over (partition by q_id
                                order by list_inner_product(qv, cv) desc,
                                         cell desc) as rn
      from q, cent) where rn <= {_IVF_NPROBE}),
  adc as (
    select p.q_id, c.n_id, any_value(c.cell) as cell,
           any_value(p.qv) as qv,
           sum(list_inner_product(
             list_slice(p.qv, c.mi * {_PQ_DSUB} + 1,
                        (c.mi + 1) * {_PQ_DSUB})::double[], c.bv)) as a
    from probes p join codes c using (cell)
    where p.q_id != c.n_id
    group by p.q_id, c.n_id),
  scored as (
    select a.q_id, a.n_id,
           (list_inner_product(a.qv, ct.cv) + a.a)
           / greatest(sqrt(list_inner_product(a.qv, a.qv)), 1e-300) as sim
    from adc a join cent ct on a.cell = ct.cell),
  finalists as (
    select q_id, n_id from (
      select q_id, n_id,
             row_number() over (partition by q_id
                                order by sim desc, n_id asc) as rank
      from scored) where rank <= {_PQ_K * _PQ_REFINE}),
  refined as (
    select f.q_id, f.n_id,
           row_number() over (partition by f.q_id
             order by list_cosine_similarity(q.qv, c.nv) desc,
                      f.n_id asc) as rank
    from finalists f join q using (q_id) join corpus c using (n_id)),
  pq as (select q_id, n_id, rank from refined where rank <= {_PQ_K}),
  bf as (
    select q_id, n_id from (
      select q.q_id, c.n_id,
             row_number() over (partition by q.q_id
               order by list_cosine_similarity(q.qv, c.nv) desc,
                        c.n_id asc) as rank
      from q, corpus c where q.q_id != c.n_id) where rank <= {_PQ_K})
  select p.q_id, p.n_id, p.rank, b.q_id is not null as in_exact
  from pq p left join bf b on p.q_id = b.q_id and p.n_id = b.n_id
"""


# ------------------------------------------------------------ tile pyramid
_PYR_RES, _PYR_MIN_RES, _PYR_PX = 6, 3, 4


def _pyr_images(spark, sf_dir):
    """events → georeferenced 4×4 images: phash packed so that
    phash_x/phash_y equal the key_x/key_y oracle coordinates exactly."""
    import pandas as pd

    from .functions.georef import _AXIS_MOD, _KX, _KY

    ev = read_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("image_id"),
        (F.shiftleft(F.pmod(F.col("event_id") * _KX, F.lit(_AXIS_MOD)), 32)
         .bitwiseOR(F.pmod(F.col("event_id") * _KY, F.lit(_AXIS_MOD))))
        .cast("long").alias("phash"),
    )

    def gen(it):
        import numpy as np

        from .functions.imagecodec import encode_image
        for pdf in it:
            px = [encode_image(
                np.full((_PYR_PX, _PYR_PX, 3), int(i) % 251, np.uint8),
                "png") for i in pdf["image_id"]]
            yield pd.DataFrame({"image_id": pdf["image_id"],
                                "phash": pdf["phash"], "bytes": px})

    return ev.mapInPandas(gen, "image_id long, phash long, bytes binary")


def q_tile_pyramid(spark, sf_dir):
    """Raster tile pyramid rollup (operators/pyramid.py): the full
    pyramid is built res 6→3 and the oracle independently recomputes
    every level's (cell, n_src) from pure cell arithmetic — verifying
    the rollup tree (parent ids + subtree count propagation) level by
    level. Pixel exactness is covered by tests/test_pyramid.py's
    numpy-reference battery (pixels aren't SQL-expressible)."""
    from .operators.pyramid import build_pyramid

    pyr = build_pyramid(_pyr_images(spark, sf_dir), _PYR_RES,
                        _PYR_MIN_RES, tile_px=_PYR_PX)
    return pyr.select("res", "cell", "n_src")


from .functions.cells import cell_of_xy_sql  # noqa: E402
from .functions.georef import key_x_sql, key_y_sql  # noqa: E402


def _pyr_sql(where: str = "") -> str:
    return "\nunion all\n".join(
        f"""
  select cast({r} as int) as res,
         cast({cell_of_xy_sql('x', 'y', r)} as bigint) as cell,
         count(*) as n_src
  from (select {key_x_sql('event_id')} as x,
               {key_y_sql('event_id')} as y from events {where})
  group by 2"""
        for r in range(_PYR_MIN_RES, _PYR_RES + 1)
    )


SQL_TILE_PYRAMID = _pyr_sql()


def q_pyramid_update(spark, sf_dir):
    """Incremental pyramid maintenance (pyramid_update): vintage 1 is
    events with event_id % 7 != 0; the changelog inserts the % 7 == 0
    rows and deletes the % 5 == 0 survivors (the view_maintain vintage
    scheme). Only dirty subtrees re-roll; the result must equal a
    from-scratch pyramid of the final row set, which the oracle
    recomputes directly per level."""
    from .operators.pyramid import build_pyramid, pyramid_update

    img = _pyr_images(spark, sf_dir)
    key = F.col("image_id")
    v1 = img.filter(key % 7 != 0)
    inserts = img.filter(key % 7 == 0)
    deletes = v1.filter(key % 5 == 0)
    v2 = (v1.filter(~(key % 5 == 0))).unionByName(inserts)
    changed = (inserts.withColumn("_change_type", F.lit("insert"))
               .unionByName(deletes.withColumn("_change_type",
                                               F.lit("delete"))))
    old = build_pyramid(v1, _PYR_RES, _PYR_MIN_RES, tile_px=_PYR_PX)
    upd = pyramid_update(old, v2, changed, _PYR_RES, _PYR_MIN_RES,
                         tile_px=_PYR_PX)
    return upd.select("res", "cell", "n_src")


SQL_PYRAMID_UPDATE = _pyr_sql(
    "where event_id % 7 = 0 or (event_id % 7 != 0 and event_id % 5 != 0)")


# --------------------------------------------------- z-order data skipping
_ZB = (12288.0, 28672.0, 20480.0, 36864.0)  # (x0, x1, y0, y1): 1/16 area
_STAGING_PREFIXES = ("egp_zorder_", "egp_rewrite_")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        return True
    return True


def _staging_dir(prefix: str, sf_dir: str) -> str:
    """A fresh ``<tmp>/<prefix><tag>_<pid>`` snapshot-table directory.

    The query's returned DataFrame reads it lazily, so it cannot be
    removed when the query returns. Instead, the egp_zorder_* and
    egp_rewrite_* directories of processes no longer alive are swept
    before this one is created, so copies do not pile up across runs."""
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        pid = name.rsplit("_", 1)[-1]
        if (name.startswith(_STAGING_PREFIXES) and pid.isdigit()
                and not _pid_alive(int(pid))):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tmp, f"{prefix}{tag}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    return path


def q_zorder_pruned_read(spark, sf_dir):
    """Z-order clustered snaplog write + manifest-pruned bbox read
    (operators/cluster.py): events-derived points are written in Morton
    layout, the bbox read plans files from per-file min/max stats alone,
    and the asserts prove the layout made the stats selective — the
    returned rows must still be EXACTLY the full filter, which the
    oracle computes straight from events."""
    from .operators.cluster import skipping_report, zorder_cluster
    from .sources.snaplog import SnapshotLogTable

    from .functions.georef import key_x, key_y

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        key_x(F.col("event_id")).alias("x"),
        key_y(F.col("event_id")).alias("y"),
    )
    t = SnapshotLogTable(spark, _staging_dir("egp_zorder_", sf_dir))
    t.overwrite(zorder_cluster(ev, "x", "y", num_files=16))
    x0, x1, y0, y1 = _ZB
    where = [("x", ">=", x0), ("x", "<=", x1),
             ("y", ">=", y0), ("y", "<=", y1)]
    rep = skipping_report(t, where)
    assert rep["files_total"] <= 16  # range partitions can come up empty
    assert rep["files_read"] < rep["files_total"]  # the skipping proof
    return t.read(where=where).select("event_id", "x", "y")


SQL_ZORDER_PRUNED_READ = f"""
  select event_id, x, y from (
    select event_id,
           {key_x_sql('event_id')} as x,
           {key_y_sql('event_id')} as y
    from events)
  where x >= {_ZB[0]} and x <= {_ZB[1]}
    and y >= {_ZB[2]} and y <= {_ZB[3]}
"""


def q_rewrite_compact(spark, sf_dir):
    """rewrite_data_files parity (snaplog.rewrite_files): a
    hash-scattered table adopts a sort order and is rewritten with NO
    logical change — the asserts prove the replace snapshot prunes
    where the scattered one couldn't and that time travel still sees
    the pre-rewrite files; the returned (pruned) read must equal the
    oracle's direct filter."""
    from .functions.georef import key_x, key_y
    from .operators.cluster import skipping_report
    from .sources.snaplog import SnapshotLogTable

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        key_x(F.col("event_id")).alias("x"),
        key_y(F.col("event_id")).alias("y"),
    )
    path = _staging_dir("egp_rewrite_", sf_dir)
    t0 = SnapshotLogTable(spark, path)
    v1 = t0.overwrite(ev.repartition(16, "event_id"))
    where = [("x", "<", 16384.0)]
    assert skipping_report(t0, where)["files_read"] == 16  # scattered

    t = SnapshotLogTable(spark, path, sort_cols=["x"])
    sid = t.rewrite_files(num_files=8)
    rep = skipping_report(t, where)
    assert rep["files_total"] <= 8 and rep["files_read"] < rep["files_total"]
    assert t.snapshots()[-1]["operation"] == "replace"
    assert t.read(v1).count() == t.read(sid).count()  # no logical change
    return t.read(where=where).select("event_id", "x", "y")


SQL_REWRITE_COMPACT = f"""
  select event_id, x, y from (
    select event_id,
           {key_x_sql('event_id')} as x,
           {key_y_sql('event_id')} as y
    from events)
  where x < 16384.0
"""


def q_simplify_arcs(spark, sf_dir):
    """Vector zoom generalization (operators/generalize.py): per-user
    event paths become polylines, Douglas–Peucker'd at the res-6 tile
    tolerance; emits per-arc vertex budgets plus a distributed check of
    the DP guarantees (endpoints identical, every original vertex within
    tol of the simplified chain). Rows-only driver check: DP is
    recursive and not ANSI-SQL-expressible (the oracle_sql contract's
    documented carve-out); the guarantees are value-asserted in the
    `ok` column and pinned in tests/test_generalize.py."""
    import pandas as pd

    from .functions.geomkernel import vertex_array
    from .functions.georef import key_x, key_y
    from .operators.generalize import simplify_lines, zoom_tolerance

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 3 == 1).select(
        "user_id", "ts",
        key_x(F.col("event_id")).alias("x"),
        key_y(F.col("event_id")).alias("y"))
    arcs = (ev.groupBy("user_id")
            .agg(F.array_sort(F.collect_list(
                F.struct("ts", F.array("x", "y").alias("p"))))
                .alias("path"))
            .select(F.col("user_id").alias("arc_id"),
                    F.transform("path", lambda s: s["p"]).alias("vertices"))
            .filter(F.size("vertices") >= 3))
    tol = zoom_tolerance(6)
    simp = simplify_lines(arcs, tol).withColumnRenamed(
        "vertices", "simplified")
    both = arcs.join(simp, "arc_id")

    def check(it):
        import numpy as np
        for pdf in it:
            rows = []
            for aid, v, s in zip(pdf["arc_id"], pdf["vertices"],
                                 pdf["simplified"]):
                orig = vertex_array(v, "simplify_arcs vertices")
                kept = vertex_array(s, "simplify_arcs simplified")
                # vectorized point-to-chain distance: (n,1,2) points vs
                # (1,m,2) kept segments, min over segments per point
                a, b = kept[None, :-1], kept[None, 1:]
                d = b - a
                t = np.clip(((orig[:, None] - a) * d).sum(-1)
                            / np.maximum((d * d).sum(-1), 1e-300), 0, 1)
                proj = a + t[..., None] * d
                dev = np.sqrt(((proj - orig[:, None]) ** 2).sum(-1)) \
                    .min(axis=1)
                ok = (kept[0] == orig[0]).all() \
                    and (kept[-1] == orig[-1]).all() \
                    and bool((dev <= tol + 1e-9).all())
                if not ok:
                    # rows-only driver check: an unchecked False would
                    # pass the harness silently — fail the run instead
                    # (ADVICE r8 #1)
                    raise AssertionError(
                        f"DP guarantee violated for arc {int(aid)}: "
                        f"max dev {float(dev.max())!r} vs tol {tol!r}")
                rows.append((int(aid), len(orig), len(kept), bool(ok)))
            yield pd.DataFrame(rows, columns=["arc_id", "n_in", "n_out",
                                              "ok"])

    return both.mapInPandas(check,
                            "arc_id long, n_in long, n_out long, ok boolean")


def _event_arcs(spark, sf_dir, min_vertices=2):
    """Per-user event paths as polylines, vertex order (ts, x, y) so
    the DuckDB oracle reproduces the exact traversal."""
    from .functions.georef import key_x, key_y

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 3 == 0).select(
        "user_id", "ts",
        key_x(F.col("event_id")).alias("x"),
        key_y(F.col("event_id")).alias("y"))
    return (ev.groupBy("user_id")
            .agg(F.array_sort(F.collect_list(
                F.struct("ts", "x", "y"))).alias("path"))
            .select(F.col("user_id").alias("arc_id"),
                    F.transform("path", lambda s: F.array(s["x"], s["y"]))
                    .alias("vertices"))
            .filter(F.size("vertices") >= min_vertices))


def q_vector_tiles(spark, sf_dir):
    """Vector tile materialization (operators/vectortiles.py): per-user
    event paths are cut into res-3 cells (Liang–Barsky pieces, boundary
    points inserted exactly). A tile grid partitions the plane, so the
    pieces of an arc must sum to EXACTLY the arc's length — the oracle
    recomputes each path's length straight from events, making the
    clip's no-drop/no-double-count invariant a full value check (rounded
    to 2 decimals: the piece sums run in a different order than the
    oracle's single pass, so the last ~1e-7 of a ~1e6 value is
    summation-order noise)."""
    from .functions.geomexpr import line_length
    from .operators.vectortiles import vector_tiles

    arcs = _event_arcs(spark, sf_dir)
    # res 3: these session paths are the degenerate domain-spanning-arc
    # case (the docstring's "generalize or coarsen first"); road-like
    # arcs tile at res 8-10 with a handful of cover cells each
    pieces = vector_tiles(arcs, res=3)
    return (pieces
            .select("arc_id", line_length(F.col("vertices")).alias("l"))
            .groupBy("arc_id")
            .agg(F.round(F.sum("l"), 2).alias("len_r")))


SQL_VECTOR_TILES = f"""
  with pts as (
    select user_id, ts,
           {key_x_sql('event_id')} as x,
           {key_y_sql('event_id')} as y
    from events where user_id % 3 = 0),
  seg as (
    select user_id,
           lag(x) over w as px, lag(y) over w as py, x, y
    from pts
    window w as (partition by user_id order by ts, x, y))
  select user_id as arc_id,
         round(sum(sqrt((x - px) * (x - px) + (y - py) * (y - py))), 2)
           as len_r
  from seg where px is not null
  group by user_id
"""


QUERIES5 = {
    "hash_split": (q_hash_split, SQL_HASH_SPLIT),
    "hash_sample": (q_hash_sample, SQL_HASH_SAMPLE),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "pack_chunks": (q_pack_chunks, SQL_PACK_CHUNKS),
    "chunk_slices": (q_chunk_slices, SQL_CHUNK_SLICES),
    "view_maintain": (q_view_maintain, SQL_VIEW_MAINTAIN),
    "index_maintain_live": (q_index_maintain_live, SQL_INDEX_MAINTAIN_LIVE),
    "ivf_pq_topk": (q_ivf_pq_topk, SQL_IVF_PQ_TOPK),
    "zorder_pruned_read": (q_zorder_pruned_read, SQL_ZORDER_PRUNED_READ),
    "tile_pyramid": (q_tile_pyramid, SQL_TILE_PYRAMID),
    "pyramid_update": (q_pyramid_update, SQL_PYRAMID_UPDATE),
    "rewrite_compact": (q_rewrite_compact, SQL_REWRITE_COMPACT),
    "simplify_arcs": (q_simplify_arcs, None),  # rows-only: DP not in SQL
    "vector_tiles": (q_vector_tiles, SQL_VECTOR_TILES),
}
