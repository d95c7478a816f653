"""Incremental view maintenance == full recompute, exactly
(operators/incremental.py over sources/snaplog.py changelogs).

Reference analog generalized: fetch_deltas.py:166-233 diffs two vintage
INPUTS; here the derived OUTPUT (per-partition counts + flag counts +
sums) is maintained from the changelog and pinned equal to recompute."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from egp_crn_spark.operators import incremental as IV
from egp_crn_spark.sources.snaplog import SnapshotLogTable

KEYS = ["part", "flag"]


def SUMS():
    # built lazily: Column construction needs an active session
    return {"val_sum": F.col("val").cast("long"),
            "weight_sum": F.col("weight").cast("long")}


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "id int, part string, flag int, val int, weight int")


def _advance(t, state, frm, to):
    """Maintained aggregate at snapshot ``to`` from the one at ``frm``
    (a full scan of ``frm`` when ``state`` is None), using only the
    changelog between them."""
    if state is None:
        state = IV.snapshot_aggregate(t.read(frm), KEYS, SUMS())
    delta = IV.aggregate_delta(t.changelog(frm, to), KEYS, SUMS())
    return IV.merge_aggregate_state(state, delta, KEYS, SUMS())


def _collect(df):
    return {
        (r.part, r.flag): (r._rows, r.val_sum, r.weight_sum)
        for r in df.collect()
    }


def test_three_vintages_incremental_equals_recompute(spark, tmp_path):
    """The VERDICT done-criterion: 3 vintages, incremental == recompute
    exactly at every step (counts + two integral sums per group)."""
    t = SnapshotLogTable(spark, str(tmp_path / "tbl"), partition_col="part")
    s1 = t.overwrite(_df(spark, [
        (i, ["a", "b", "c"][i % 3], i % 2, i, 10 + i) for i in range(60)]))
    # vintage 2: rewrite partition b, append new rows in d
    s2 = t.overwrite_partitions(_df(spark, [
        (100 + i, "b", 1, 5 * i, 7) for i in range(10)]))
    s3 = t.append(_df(spark, [
        (200 + i, "d", i % 3, i, 1) for i in range(15)]))

    state = IV.snapshot_aggregate(t.read(s1), KEYS, SUMS())
    for frm, to in [(s1, s2), (s2, s3)]:
        state = _advance(t, state, frm, to)
        want = IV.snapshot_aggregate(t.read(to), KEYS, SUMS())
        assert _collect(state) == _collect(want), (frm, to)


def test_groups_vanish_when_rows_hit_zero(spark, tmp_path):
    """A partition rewrite that removes every row of a group must drop
    the group from the maintained state (not leave a zero-count row)."""
    t = SnapshotLogTable(spark, str(tmp_path / "tbl"), partition_col="part")
    s1 = t.overwrite(_df(spark, [(1, "a", 0, 1, 1), (2, "b", 7, 2, 2)]))
    s2 = t.overwrite_partitions(_df(spark, [(3, "b", 8, 3, 3)]))
    got = _advance(t, None, s1, s2)
    keys = {(r.part, r.flag) for r in got.collect()}
    assert keys == {("a", 0), ("b", 8)}  # (b, 7) vanished


def test_null_keys_maintained(spark, tmp_path):
    """Null group keys must merge correctly (union+re-aggregate path —
    an equi-join merge would drop them silently)."""
    t = SnapshotLogTable(spark, str(tmp_path / "tbl"), partition_col="part")
    rows1 = [(1, "a", None, 4, 1), (2, "a", None, 6, 1), (3, "a", 1, 1, 1)]
    s1 = t.overwrite(spark.createDataFrame(
        rows1, "id int, part string, flag int, val int, weight int"))
    s2 = t.append(spark.createDataFrame(
        [(4, "a", None, 10, 2)],
        "id int, part string, flag int, val int, weight int"))
    got = _advance(t, None, s1, s2)
    want = IV.snapshot_aggregate(t.read(s2), KEYS, SUMS())
    assert _collect(got) == _collect(want)
    assert ("a", None) in _collect(got)


@pytest.mark.parametrize("seed", [11, 12])
def test_random_vintage_sequences(spark, tmp_path, seed):
    """Model check: random overwrite_partitions/append sequences; the
    maintained aggregate equals recompute after EVERY vintage."""
    rng = random.Random(seed)
    t = SnapshotLogTable(spark, str(tmp_path / "tbl"), partition_col="part")
    next_id = [0]

    def rows(n, parts=("a", "b", "c", "d")):
        out = []
        for _ in range(n):
            next_id[0] += 1
            out.append((next_id[0], rng.choice(parts), rng.randint(0, 2),
                        rng.randint(-50, 50), rng.randint(0, 9)))
        return out

    sid = t.overwrite(_df(spark, rows(30)))
    state = IV.snapshot_aggregate(t.read(sid), KEYS, SUMS())
    for _ in range(5):
        if rng.random() < 0.5:
            new_sid = t.overwrite_partitions(
                _df(spark, rows(rng.randint(1, 8),
                                parts=(rng.choice("abcd"),))))
        else:
            new_sid = t.append(_df(spark, rows(rng.randint(1, 6))))
        state = _advance(t, state, sid, new_sid)
        want = IV.snapshot_aggregate(t.read(new_sid), KEYS, SUMS())
        assert _collect(state) == _collect(want), f"seed={seed} sid={new_sid}"
        sid = new_sid
