"""Snapshot-log catalog emulation (VERDICT r5 #1): snapshot isolation,
time travel, dynamic partition overwrite, changelog reads, rollback, and
crash atomicity — the Iceberg semantics the incremental story (S8,
J12-J14, lineage) depends on, actually executed rather than stubbed.

Reference semantics preserved: fetch_deltas.py:166-233 (two dated
vintages diffed), restore_geometry.py:83-117 (restore-from-previous)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from egp_crn_spark.sources import tables
from egp_crn_spark.sources.snaplog import SnapshotLogTable, is_snaplog_table


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, part string, val double")


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def test_roundtrip_and_time_travel(spark, tdir):
    t = SnapshotLogTable(spark, tdir)
    s1 = t.overwrite(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    s2 = t.overwrite(_df(spark, [(3, "a", 3.0)]))
    assert (s1, s2) == (1, 2)
    assert is_snaplog_table(tdir)
    # current read sees only snapshot 2; time travel sees snapshot 1
    assert sorted(r.id for r in t.read().collect()) == [3]
    assert sorted(r.id for r in t.read(1).collect()) == [1, 2]
    log = t.snapshots()
    assert [s["operation"] for s in log] == ["overwrite", "overwrite"]
    assert log[0]["total_rows"] == 2 and log[1]["total_rows"] == 1


def test_append_accumulates_and_preserves_history(spark, tdir):
    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(1, "a", 1.0)]))
    t.append(_df(spark, [(2, "b", 2.0), (3, "b", 3.0)]))
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    assert sorted(r.id for r in t.read(1).collect()) == [1]
    # appends surface as pure inserts in the changelog
    ch = t.changelog(1, 2)
    assert {r._change_type for r in ch.collect()} == {"insert"}
    assert sorted(r.id for r in ch.collect()) == [2, 3]


def test_overwrite_partitions_metadata_level(spark, tdir):
    t = SnapshotLogTable(spark, tdir, partition_col="part")
    t.overwrite(_df(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]))
    m1_files = {e["path"] for e in t._manifest(1)["files"]}
    # rewrite only partition b; a and c files must carry over UNREWRITTEN
    t.overwrite_partitions(_df(spark, [(20, "b", 20.0)]))
    got = {(r.id, r.part) for r in t.read().collect()}
    assert got == {(1, "a"), (20, "b"), (3, "c")}
    m2 = t._manifest(2)["files"]
    carried = {e["path"] for e in m2} & m1_files
    assert carried == {e["path"] for e in t._manifest(1)["files"]
                       if e["partition"] != "b"}
    # changelog: partition b shows delete+insert, a/c silent
    ch = t.changelog(1, 2).collect()
    assert {(r.id, r._change_type) for r in ch} == {(2, "delete"), (20, "insert")}


def test_rollback_restores_without_rewrite(spark, tdir):
    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(1, "a", 1.0)]))
    t.overwrite(_df(spark, [(2, "b", 2.0)]))
    t.rollback(1)
    assert [r.id for r in t.read().collect()] == [1]
    # the later snapshot is still readable by explicit id
    assert [r.id for r in t.read(2).collect()] == [2]
    with pytest.raises(ValueError):
        t.rollback(99)


def test_crash_atomicity_orphan_data_invisible(spark, tdir):
    """Data files written but no manifest committed (crash before the
    manifest create): invisible to every read."""
    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(1, "a", 1.0)]))
    orphan = os.path.join(tdir, "data", "snap9-orphan.parquet")
    _df(spark, [(999, "z", 9.0)]).toPandas().to_parquet(orphan)
    assert sorted(r.id for r in t.read().collect()) == [1]


def test_crash_atomicity_unflipped_manifest_invisible(spark, tdir):
    """Manifest written but the version hint never flipped (crash between
    the two): the snapshot is invisible, and the next writer skips the
    burned id instead of colliding with the exclusive create."""
    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(1, "a", 1.0)]))
    ghost = {"snapshot_id": 2, "parent_id": 1, "operation": "overwrite",
             "files": [{"path": "nope.parquet", "partition": None, "rows": 1}]}
    with open(os.path.join(tdir, "metadata", "snap-2.json"), "w") as f:
        json.dump(ghost, f)
    assert t.current_snapshot_id() == 1
    assert sorted(r.id for r in t.read().collect()) == [1]
    sid = t.overwrite(_df(spark, [(5, "a", 5.0)]))
    assert sid == 3  # id 2 burned by the ghost manifest
    assert sorted(r.id for r in t.read().collect()) == [5]


def test_tags_resolve_like_iceberg_refs(spark, tdir):
    t = SnapshotLogTable(spark, tdir)
    s1 = t.overwrite(_df(spark, [(1, "a", 1.0)]))
    s2 = t.overwrite(_df(spark, [(2, "a", 2.0)]))
    t.set_tag("20210601", s1)
    t.set_tag("20210901", s2)
    assert [r.id for r in t.read("20210601").collect()] == [1]
    assert [r.id for r in t.read("20210901").collect()] == [2]
    with pytest.raises(ValueError):
        t.read("20991231")


def test_partition_layout_is_pinned(spark, tdir):
    t = SnapshotLogTable(spark, tdir, partition_col="part")
    t.overwrite(_df(spark, [(1, "a", 1.0)]))
    with pytest.raises(ValueError):
        SnapshotLogTable(spark, tdir, partition_col="val")


def test_concurrent_staging_never_clobbers(spark, tdir):
    """Two writers racing to the same predicted snapshot id stage
    attempt-unique file names: neither move can overwrite the other's
    bytes (the loser's files become invisible orphans)."""
    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(1, "a", 1.0)]))
    fa = t._stage_files(_df(spark, [(2, "a", 2.0)]), 2)
    fb = t._stage_files(_df(spark, [(3, "b", 3.0)]), 2)  # same predicted id
    assert not ({e["path"] for e in fa} & {e["path"] for e in fb})
    for e in fa + fb:
        assert os.path.isfile(os.path.join(tdir, "data", e["path"]))


def test_append_lost_update_detected_and_retried(spark, tdir):
    """A commit derived from a stale parent must NOT silently drop the
    intervening writer's files: the stale _commit raises CommitConflict,
    and the public append() retries against the fresh parent so both
    writers' rows survive."""
    from egp_crn_spark.sources.snaplog import CommitConflict

    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(1, "a", 1.0)]))
    # writer B reads the parent (1) and builds its carried list...
    sid_b = t.current_snapshot_id()
    prev_b = t._manifest(sid_b)["files"]
    new_b = t._stage_files(_df(spark, [(3, "b", 3.0)]), sid_b + 1)
    # ...then writer A commits an append in between
    t.append(_df(spark, [(2, "a", 2.0)]))
    with pytest.raises(CommitConflict):
        t._commit(prev_b + new_b, "append", expected_parent=sid_b)
    # the PUBLIC api retries with the moved parent and loses nothing
    t.append(_df(spark, [(3, "b", 3.0)]))
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_threaded_appends_union(spark, tdir):
    """Two threads each appending 3 batches through the public API:
    every row survives and the final manifest's row total matches."""
    import threading

    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(0, "a", 0.0)]))
    errs = []

    def writer(base):
        try:
            w = SnapshotLogTable(spark, tdir)
            for i in range(3):
                w.append(_df(spark, [(base + i, "a", float(i))]))
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    th = [threading.Thread(target=writer, args=(b,)) for b in (100, 200)]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    got = sorted(r.id for r in t.read().collect())
    assert got == [0, 100, 101, 102, 200, 201, 202]
    assert t.snapshots()[-1]["total_rows"] == 7


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_model_random_op_sequences(spark, tdir, seed):
    """Model check: a random sequence of overwrite / append /
    overwrite_partitions / rollback against a plain-dict model of
    snapshot -> row-set. After every op the current read matches the
    model; at the end EVERY snapshot time-travels to its recorded
    state and every consecutive changelog nets to the model diff."""
    import random

    rng = random.Random(seed)
    t = SnapshotLogTable(spark, tdir, partition_col="part")
    next_id = [0]

    def rows(n, parts=("a", "b", "c")):
        out = []
        for _ in range(n):
            next_id[0] += 1
            out.append((next_id[0], rng.choice(parts), float(rng.randint(0, 99))))
        return out

    model: dict[int, frozenset] = {}          # snapshot_id -> row set
    cur = frozenset()
    first = rows(4)
    s0 = t.overwrite(_df(spark, first))
    cur = frozenset((i, p, v) for i, p, v in first)
    model[s0] = cur
    for _ in range(7):
        op = rng.choice(["overwrite", "append", "owp", "rollback"])
        if op == "overwrite":
            new = rows(rng.randint(1, 4))
            sid = t.overwrite(_df(spark, new))
            cur = frozenset((i, p, v) for i, p, v in new)
        elif op == "append":
            new = rows(rng.randint(1, 3))
            sid = t.append(_df(spark, new))
            cur = cur | frozenset((i, p, v) for i, p, v in new)
        elif op == "owp":
            part = rng.choice(["a", "b", "c"])
            new = rows(rng.randint(1, 3), parts=(part,))
            sid = t.overwrite_partitions(_df(spark, new))
            cur = (frozenset(r for r in cur if r[1] != part)
                   | frozenset((i, p, v) for i, p, v in new))
        else:
            sid = rng.choice(sorted(model))
            t.rollback(sid)
            cur = model[sid]
            got = frozenset((r.id, r.part, r.val) for r in t.read().collect())
            assert got == cur, f"seed={seed} rollback({sid})"
            continue
        model[sid] = cur
        got = frozenset((r.id, r.part, r.val) for r in t.read().collect())
        assert got == cur, f"seed={seed} after {op} (snapshot {sid})"
    # final sweep: every recorded snapshot is still exactly readable
    for sid, want in model.items():
        got = frozenset((r.id, r.part, r.val) for r in t.read(sid).collect())
        assert got == want, f"seed={seed} time travel to {sid}"


def test_inflight_commit_not_mistaken_for_ghost(spark, tdir):
    """The ADVICE r6 lost-update window: writer A has created
    snap-2.json but not yet flipped the hint when writer B commits.
    Pre-lock, B would read parent 1, treat snap-2 as a burned crash
    ghost, and commit snap-3 with a carried list derived from the STALE
    parent — silently dropping A's files. With the commit lock, B blocks
    until A's flip lands, then carries A's files. Both rows survive."""
    import threading

    from egp_crn_spark.sources.snaplog import _CommitLock, _meta_dir

    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(1, "a", 1.0)]))
    # writer A: stage files + create manifest under the lock, DELAY the
    # hint flip (the exact window), while B appends concurrently
    a_files = t._stage_files(_df(spark, [(2, "a", 2.0)]), 2)
    lock = _CommitLock(_meta_dir(tdir))
    lock.__enter__()
    with open(os.path.join(tdir, "metadata", "snap-2.json"), "w") as f:
        json.dump({"snapshot_id": 2, "parent_id": 1, "operation": "append",
                   "files": t._manifest(1)["files"] + a_files}, f)
    b_done = []

    def writer_b():
        w = SnapshotLogTable(spark, tdir)
        b_done.append(w.append(_df(spark, [(3, "b", 3.0)])))

    th = threading.Thread(target=writer_b)
    th.start()
    import time as _time
    _time.sleep(0.3)           # B is inside its commit attempt, blocked
    assert not b_done          # ...and has NOT burned past A's manifest
    t._flip_hint(2)            # A completes its flip...
    lock.__exit__(None, None, None)   # ...and releases
    th.join(timeout=30)
    assert b_done and b_done[0] == 3
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]


def test_partition_string_dtype_roundtrip(spark, tdir):
    """A string partition column with numeric-looking values must read
    back as the SAME strings in the SAME schema position (Iceberg
    restores schema from metadata; hive inference would give int 1 /
    date 2021-06-01 at the end of the schema)."""
    t = SnapshotLogTable(spark, tdir, partition_col="vintage")
    df = spark.createDataFrame(
        [(1, "01", 1.0), (2, "20210601", 2.0)],
        "id int, vintage string, val double")
    t.overwrite(df)
    got = t.read()
    assert [f.name for f in got.schema.fields] == ["id", "vintage", "val"]
    assert dict(got.dtypes)["vintage"] == "string"
    assert sorted(r.vintage for r in got.collect()) == ["01", "20210601"]
    # changelog rows carry the committed schema too
    t.append(spark.createDataFrame([(3, "07", 3.0)], df.schema))
    ch = t.changelog(1, 2).collect()
    assert {(r.id, r.vintage) for r in ch} == {(3, "07")}


def test_scan_planning_prunes_files(spark, tdir):
    """read(where=...) must list strictly fewer files than a full read
    when per-file min/max stats allow, with identical results to a full
    read + filter (the residual filter covers stats-uncertain files)."""
    t = SnapshotLogTable(spark, tdir, partition_col="part")
    rows = [(i, "a" if i < 50 else "b", float(i)) for i in range(100)]
    # two appends -> multiple files with disjoint id ranges per partition
    t.overwrite(_df(spark, rows[:50]))
    t.append(_df(spark, rows[50:]))
    all_files = t.plan_files()
    assert len(all_files) >= 2
    assert all(e.get("stats", {}).get("id") for e in all_files)
    # numeric range predicate prunes by column stats
    pruned = t.plan_files(where=[("id", ">=", 90)])
    assert 0 < len(pruned) < len(all_files)
    got = sorted(r.id for r in t.read(where=[("id", ">=", 90)]).collect())
    assert got == list(range(90, 100))
    # partition-value predicate prunes by hive directory value
    pruned_p = t.plan_files(where=[("part", "=", "a")])
    assert 0 < len(pruned_p) < len(all_files)
    got_p = sorted(r.id for r in t.read(where=[("part", "=", "a")]).collect())
    assert got_p == list(range(50))
    # combined + in-op; equality outside every range prunes everything
    assert t.plan_files(where=[("id", "=", 1000)]) == []
    got_in = sorted(
        r.id for r in t.read(where=[("id", "in", [3, 97])]).collect())
    assert got_in == [3, 97]


def test_seam_routes_through_snaplog(spark, tdir):
    """load_table/save_table default to the snapshot-log catalog in the
    sandbox: tagged snapshots, append commits, auto-detected reads."""
    df = _df(spark, [(1, "a", 1.0), (2, "b", 2.0)])
    tables.save_table(df.filter("id = 1"), tdir, snapshot="v1")
    tables.save_table(df, tdir, snapshot="v2")
    tables.save_table(_df(spark, [(3, "c", 3.0)]), tdir, mode="append")
    assert is_snaplog_table(tdir)
    assert [r.id for r in tables.load_table(spark, tdir, snapshot="v1").collect()] == [1]
    assert sorted(r.id for r in tables.load_table(spark, tdir, snapshot="v2").collect()) == [1, 2]
    assert sorted(r.id for r in tables.load_table(spark, tdir).collect()) == [1, 2, 3]
    assert tables.table_exists(spark, tdir)
    tables.drop_table(spark, tdir)
    assert not tables.table_exists(spark, tdir)


def test_boolean_partition_pruning_is_not_aggressive(spark, tdir):
    """ADVICE r7: ('flag','=',True) on a boolean-partitioned table must
    keep the matching partition's files — hive writes 'true' lowercase
    while str(True) is 'True', and a naive string compare 'proves' every
    file excluded, silently returning an empty result."""
    t = SnapshotLogTable(spark, tdir, partition_col="flag")
    df = spark.createDataFrame(
        [(1, True, 1.0), (2, False, 2.0), (3, True, 3.0)],
        "id int, flag boolean, val double")
    t.overwrite(df)
    kept = t.plan_files(where=[("flag", "=", True)])
    assert len(kept) > 0
    got = sorted(r.id for r in t.read(where=[("flag", "=", True)]).collect())
    assert got == [1, 3]
    got_f = sorted(r.id for r in t.read(where=[("flag", "=", False)]).collect())
    assert got_f == [2]


def test_all_files_pruned_returns_empty_not_error(spark, tdir):
    """ADVICE r7: a selective where= that prunes EVERY file of a valid
    snapshot returns an empty DataFrame with the table's schema, never
    'snapshot N lists no files'. Covers both manifest vintages (with
    and without a recorded schema)."""
    t = SnapshotLogTable(spark, tdir)
    t.overwrite(_df(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    out = t.read(where=[("id", "=", 1000)])
    assert out.count() == 0
    assert set(out.columns) == {"id", "part", "val"}
    # simulate a pre-schema manifest (older vintage): strip the key
    meta = os.path.join(tdir, "metadata")
    snap = [f for f in os.listdir(meta) if f.startswith("snap-")][0]
    p = os.path.join(meta, snap)
    with open(p) as f:
        m = json.load(f)
    m.pop("schema", None)
    with open(p, "w") as f:
        json.dump(m, f)
    out2 = t.read(where=[("id", "=", 1000)])
    assert out2.count() == 0
    assert set(out2.columns) == {"id", "part", "val"}


def test_driver_staging_dirs_sweep_dead_processes(tmp_path, monkeypatch):
    """The z-order/rewrite driver queries stage snapshot tables in
    per-pid temp dirs that their lazy results still read, so the dirs
    outlive the query. Creating a new one sweeps the egp_zorder_* /
    egp_rewrite_* dirs of dead pids and keeps live pids' and unrelated
    dirs."""
    import subprocess
    import sys
    import tempfile

    from egp_crn_spark import driverq5

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    dead, live = child.pid, os.getpid()
    keep = [f"egp_zorder_cccc_{live}", "egp_zorder_notapid", f"other_{dead}"]
    for name in keep + [f"egp_zorder_aaaa_{dead}", f"egp_rewrite_bbbb_{dead}"]:
        (tmp_path / name / "data").mkdir(parents=True)
    path = driverq5._staging_dir("egp_rewrite_", "/sf/dir")
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(keep)
    assert os.path.dirname(path) == str(tmp_path)
    assert os.path.basename(path).startswith("egp_rewrite_")
    assert path.endswith(f"_{live}") and not os.path.exists(path)
