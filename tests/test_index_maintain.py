"""Incremental ANN-index maintenance == from-scratch rebuild, exactly
(operators/index_maintain.py over sources/snaplog.py changelogs).

The maintained live index must equal the index built fresh from the
current corpus snapshot AS A SET (ignoring the _as_of generation stamp),
for both the float32 IVF shape and the PQ shape — hence identical probe
results. Vintage sequences include appends, partition rewrites that
re-state unchanged rows (file-level changelog), and in-place vector
updates."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.operators import index_maintain as IM
from egp_crn_spark.operators.similarity import (ivf_assign, ivf_pq_assign,
                                                ivf_probe, train_centroids,
                                                train_pq)
from egp_crn_spark.sources.snaplog import SnapshotLogTable
from tests import plans

DIM = 16


def _vec(i: int, bump: int = 0):
    rng = np.random.default_rng(1000 * (i + 1) + bump)
    return [float(x) for x in rng.uniform(-1.0, 1.0, DIM)]


def _rows(ids, part, bump=0):
    return [(i, part, _vec(i, bump)) for i in ids]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id int, part string, embedding array<double>")


def _index_set(df, pq):
    cols = ["n_id", "cell", "codes"] if pq else ["n_id", "cell", "cv", "_cn"]
    out = df.select(*cols).collect()
    if pq:
        return {(r.n_id, r.cell, bytes(r.codes)) for r in out}
    return {(r.n_id, r.cell, tuple(r.cv), r._cn) for r in out}


def _rebuild(corpus, C, as_of, books=None):
    """From-scratch index of one corpus snapshot — the oracle a
    maintained live index must equal as a set."""
    idx = (ivf_pq_assign(corpus, C, books) if books is not None
           else ivf_assign(corpus, C, dtype="float32"))
    return idx.withColumn(IM.AS_OF, F.lit(int(as_of)))


def _initial(corpus, C, as_of, books=None):
    """(index, empty tombstones) built from a full corpus scan."""
    idx = _rebuild(corpus, C, as_of, books)
    return idx, idx.select("n_id").limit(0).withColumn(IM.TOMB_TS, F.lit(0))


def _advance(t, C, frm, to, idx, tombs, books=None):
    """Advance (index, tombstones) from snapshot ``frm`` to ``to``
    through index_delta over the changelog between them."""
    appends, new = IM.index_delta(t.changelog(frm, to), C, to, books)
    return idx.unionByName(appends), tombs.unionByName(new)


@pytest.fixture(scope="module")
def trained(spark, tmp_path_factory):
    """Corpus table with 3 vintages + centroids/codebooks trained on v1."""
    t = SnapshotLogTable(
        spark, str(tmp_path_factory.mktemp("ann") / "corpus"),
        partition_col="part")
    s1 = t.overwrite(_df(spark, _rows(range(40), "a") + _rows(range(40, 80), "b")))
    C = train_centroids(t.read(s1), ncells=8, sample=64)
    B = train_pq(t.read(s1), C, m=4, sample=64)
    # v2: rewrite partition b — ids 40..59 updated VECTORS (bump=1),
    # 60..79 re-stated unchanged, 80..89 new in b
    s2 = t.overwrite_partitions(_df(
        spark, _rows(range(40, 60), "b", bump=1) + _rows(range(60, 80), "b")
        + _rows(range(80, 90), "b")))
    # v3: plain append in partition c
    s3 = t.append(_df(spark, _rows(range(200, 230), "c")))
    return t, C, B, (s1, s2, s3)


@pytest.mark.parametrize("pq", [False, True], ids=["float", "pq"])
def test_maintained_equals_rebuild(spark, trained, pq):
    t, C, B, (s1, s2, s3) = trained
    books = B if pq else None
    idx, tombs = _initial(t.read(s1), C, s1, books)
    for frm, to in [(s1, s2), (s2, s3)]:
        idx, tombs = _advance(t, C, frm, to, idx, tombs, books)
        live = IM.live_index(idx, tombs)
        want = _rebuild(t.read(to), C, to, books)
        assert _index_set(live, pq) == _index_set(want, pq), (frm, to, pq)
    # updated ids must carry their NEW encoding (vector changed at v2)
    live = IM.live_index(idx, tombs)
    fresh = _rebuild(t.read(s3), C, s3, books)
    upd_live = _index_set(live.filter(F.col("n_id") < 60).filter("n_id >= 40"), pq)
    upd_fresh = _index_set(fresh.filter(F.col("n_id") < 60).filter("n_id >= 40"), pq)
    assert upd_live == upd_fresh and len(upd_live) == 20


def test_probe_over_live_index_matches_rebuild(spark, trained):
    t, C, B, (s1, s2, s3) = trained
    idx, tombs = _initial(t.read(s1), C, s1)
    for frm, to in [(s1, s2), (s2, s3)]:
        idx, tombs = _advance(t, C, frm, to, idx, tombs)
    live = IM.live_index(idx, tombs)
    fresh = _rebuild(t.read(s3), C, s3)
    queries = t.read(s3).filter("vec_id % 10 = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    a = ivf_probe(queries, live, C, k=3, nprobe=3).collect()
    b = ivf_probe(queries, fresh, C, k=3, nprobe=3).collect()
    key = lambda r: (r.q_id, r.rank)  # noqa: E731
    assert sorted(((r.q_id, r.rank, r.n_id) for r in a)) == \
        sorted(((r.q_id, r.rank, r.n_id) for r in b))
    assert len(a) > 0


def test_dead_rows_never_eat_rank_slots(spark, trained):
    """Filtering happens before top-k: a deleted id must not appear AND
    its former rank slot must be filled by the next live neighbour."""
    t, C, B, (s1, s2, s3) = trained
    idx, tombs = _initial(t.read(s1), C, s1)
    for frm, to in [(s1, s2), (s2, s3)]:
        idx, tombs = _advance(t, C, frm, to, idx, tombs)
    live = IM.live_index(idx, tombs)
    k = 5
    queries = t.read(s3).filter("vec_id = 0").select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"))
    got = ivf_probe(queries, live, C, k=k, nprobe=8).collect()
    live_ids = {r.n_id for r in live.select("n_id").collect()}
    assert all(r.n_id in live_ids for r in got)
    assert len(got) == min(k, len(live_ids) - 1)


def test_streaming_ingest_then_maintain(spark, tmp_path):
    """Composition: micro-batches of a Structured Streaming source land
    in the corpus as one snapshot append each (foreachBatch), then the
    index advances along that snapshot chain through index_delta — the
    continuous-ingestion posture of a production ANN pipeline. Final
    live index == from-scratch rebuild of the head snapshot."""
    import pandas as pd

    t = SnapshotLogTable(spark, str(tmp_path / "stream_corpus"),
                         partition_col="part")
    s0 = t.overwrite(_df(spark, _rows(range(30), "a")))
    C = train_centroids(t.read(s0), ncells=4, sample=32)
    idx, tombs = _initial(t.read(s0), C, s0)

    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema(
        "vec_id int, part string, embedding array<double>").parquet(str(src))
    q = (stream.writeStream.foreachBatch(lambda batch, _: t.append(batch))
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    for b in range(2):
        ids = range(100 + 10 * b, 110 + 10 * b)
        pd.DataFrame({
            "vec_id": pd.array(list(ids), dtype="int32"),
            "part": [f"s{b}"] * 10,
            "embedding": [_vec(i) for i in ids],
        }).to_parquet(src / f"b{b}.parquet")
        q.processAllAvailable()
    q.stop()

    chain = sorted(s["snapshot_id"] for s in t.snapshots()
                   if s["snapshot_id"] >= s0)
    assert len(chain) == 3  # s0 + one commit per micro-batch
    for frm, to in zip(chain, chain[1:]):
        idx, tombs = _advance(t, C, frm, to, idx, tombs)
    live = IM.live_index(idx, tombs)
    want = _rebuild(t.read(chain[-1]), C, chain[-1])
    assert _index_set(live, False) == _index_set(want, False)
    assert live.count() == 50


def test_index_persists_in_partitioned_snaplog_with_dirty_band_compaction(
        spark, tmp_path):
    """The full persistence loop the module docstring promises: the
    index lives in a snaplog table partitioned by cell band; maintenance
    APPENDS delta rows; compaction rewrites ONLY dirty bands via
    overwrite_partitions — clean bands' data files carry over
    unrewritten, and the compacted table equals a from-scratch rebuild."""
    t = SnapshotLogTable(spark, str(tmp_path / "corpus"),
                         partition_col="part")
    s1 = t.overwrite(_df(spark, _rows(range(60), "a")))
    C = train_centroids(t.read(s1), ncells=8, sample=64)

    def with_band(df):
        return df.withColumn("band", (F.col("cell") % 4).cast("string"))

    it = SnapshotLogTable(spark, str(tmp_path / "index"),
                          partition_col="band")
    idx, tombs = _initial(t.read(s1), C, s1)
    it.overwrite(with_band(idx))

    # vintage 2: delete-and-update ids 0..9 (rewrite partition a)
    s2 = t.overwrite_partitions(_df(
        spark, _rows(range(10), "a", bump=2) + _rows(range(10, 60), "a")))
    appends, new_tombs = IM.index_delta(t.changelog(s1, s2), C, s2)
    it.append(with_band(appends))
    tombs = tombs.unionByName(new_tombs)

    # dirty bands = bands holding rows the live rule kills
    full = it.read().drop("band")
    live = IM.live_index(full, tombs)
    dead = full.exceptAll(live)
    dirty = {r.band for r in with_band(dead).select("band").distinct().collect()}
    assert 0 < len(dirty) <= 4

    before = {e["path"] for e in it.plan_files()}
    clean_before = {p for p in before
                    if not any(f"band={b}" in p for b in dirty)}
    it.overwrite_partitions(
        with_band(live).filter(F.col("band").isin(*dirty)))
    after = {e["path"] for e in it.plan_files()}
    # untouched bands carry their exact files; dirty bands rewrote
    assert clean_before <= after
    assert not any(p in after for p in before - clean_before)

    want = _rebuild(t.read(s2), C, s2)
    got = it.read().drop("band")
    assert _index_set(got, False) == _index_set(want, False)


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_random_vintage_sequences_maintain_exactly(spark, tmp_path, seed):
    """Randomized model test (snaplog-style): a random sequence of
    appends / partition rewrites (with in-place vector updates, drops,
    and re-stated rows) maintained step-by-step equals the rebuild at
    EVERY snapshot."""
    import random

    rng = random.Random(seed)
    t = SnapshotLogTable(spark, str(tmp_path / f"rand{seed}"),
                         partition_col="part")
    parts = ["a", "b", "c"]
    model = {p: {i: 0 for i in range(20 * k, 20 * k + 20)}
             for k, p in enumerate(parts)}  # part -> {id: bump}
    next_id = 1000

    def rows_of(p):
        return [(i, p, _vec(i, bump)) for i, bump in model[p].items()]

    s = t.overwrite(_df(spark, [r for p in parts for r in rows_of(p)]))
    C = train_centroids(t.read(s), ncells=4, sample=64)
    idx, tombs = _initial(t.read(s), C, s)

    for step in range(4):
        op = rng.choice(["append", "rewrite"])
        if op == "append":
            p = rng.choice(parts)
            new = {next_id + j: 0 for j in range(rng.randint(1, 8))}
            model[p].update(new)
            next_id += 10
            s2 = t.append(_df(spark, [(i, p, _vec(i)) for i in new]))
        else:
            p = rng.choice(parts)
            ids = list(model[p])
            for i in rng.sample(ids, k=min(5, len(ids))):
                model[p][i] += 1  # in-place vector update
            for i in rng.sample(list(model[p]), k=min(3, len(model[p]) - 1)):
                del model[p][i]  # dropped rows
            s2 = t.overwrite_partitions(_df(spark, rows_of(p)))
        idx, tombs = _advance(t, C, s, s2, idx, tombs)
        s = s2
        live = IM.live_index(idx, tombs)
        want = _rebuild(t.read(s), C, s)
        assert _index_set(live, False) == _index_set(want, False), (seed, step, op)


def test_tombstone_broadcast_guard_fallback(spark, trained, monkeypatch):
    """VERDICT r7 #4: an oversized tombstone backlog flips live_index
    from broadcast to a pinned shuffled hash join automatically —
    identical results both paths. The bound is guard.BROADCAST_MAX_ROWS,
    inclusive."""
    t, C, B, (s1, s2, s3) = trained
    idx, tombs = _initial(t.read(s1), C, s1)
    for frm, to in [(s1, s2), (s2, s3)]:
        idx, tombs = _advance(t, C, frm, to, idx, tombs)
    from egp_crn_spark.operators import guard
    # a large cap broadcasts the tombstones
    monkeypatch.setattr(guard, "BROADCAST_MAX_ROWS", 1 << 40)
    bcast = IM.live_index(idx, tombs)
    assert "BroadcastHashJoin" in plans.physical_plan(bcast)
    # plant a backlog larger than a tiny cap: the shuffled path
    monkeypatch.setattr(guard, "BROADCAST_MAX_ROWS", 2)
    shuffled = IM.live_index(idx, tombs)
    p = plans.physical_plan(shuffled)
    assert "BroadcastHashJoin" not in p, p[:1200]
    assert "ShuffledHashJoin" in p, p[:1200]
    assert _index_set(shuffled, False) == _index_set(bcast, False)
    ids = tombs.select("n_id").distinct().count()
    assert ids > 2
    # boundary: exactly ids rows at a bound of ids broadcasts; one row
    # over the bound takes the shuffled hash join
    monkeypatch.setattr(guard, "BROADCAST_MAX_ROWS", ids)
    at = plans.physical_plan(IM.live_index(idx, tombs))
    assert "BroadcastHashJoin" in at and "ShuffledHashJoin" not in at
    monkeypatch.setattr(guard, "BROADCAST_MAX_ROWS", ids - 1)
    over = plans.physical_plan(IM.live_index(idx, tombs))
    assert "ShuffledHashJoin" in over and "BroadcastHashJoin" not in over
