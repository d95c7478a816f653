"""Catalog-path demo (VERDICT r5 #1): snapshot diff + partition-resume
through the snapshot-log emulation behind the sources.tables seam.

Reproduces the reference's incremental vintage flow at demo scale:
fetch_deltas.py:166-233 reads two dated vintages and diffs them — here
two tagged snapshots of ONE catalog table are diffed by a metadata-only
changelog read, verified row-for-row against a direct anti-join diff.
restore_geometry.py:83-117's restore-from-previous is a rollback that
rewrites no data. The resume leg shows a crashed partition-recompute
job finishing from the manifest alone: completed partitions are skipped,
remaining ones recomputed, final table equals the single-shot result.

Usage: python tools/iceberg_demo.py [n_rows] [out_md]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from egp_crn_spark.session import get_session
from egp_crn_spark.sources.snaplog import SnapshotLogTable

N_PARTS = 64          # coarse tile-cell partitions
DIRTY = 12            # partitions touched by the new vintage
_CK = "xor(bit_xor_id)"


def synth(spark, n, vintage=1):
    """Deterministic images-metadata-ish table partitioned by tile cell.
    vintage 2 = vintage 1 with rows deleted / modified / inserted inside
    the first DIRTY cells (the reference's NGD delta classes)."""
    df = (spark.range(n)
          .withColumn("cell", (F.col("id") % N_PARTS).cast("int"))
          .withColumn("phash", F.xxhash64("id"))
          .withColumn("caption", F.concat(F.lit("img "), F.col("id"))))
    if vintage == 1:
        return df
    dirty = F.col("cell") < DIRTY
    deleted = dirty & (F.col("id") % 17 == 0)
    modified = dirty & (F.col("id") % 17 == 1)
    inserted = (spark.range(n, n + n // 50)
                .withColumn("cell", (F.col("id") % DIRTY).cast("int"))
                .withColumn("phash", F.xxhash64("id"))
                .withColumn("caption", F.concat(F.lit("img "), F.col("id"))))
    return (df.filter(~deleted)
            .withColumn("caption", F.when(modified, F.concat(F.col("caption"), F.lit(" v2")))
                        .otherwise(F.col("caption")))
            .unionByName(inserted))


def checksum(df):
    r = df.agg(F.count("*").alias("n"),
               F.sum(F.crc32(F.concat_ws("|", "id", "caption"))).alias("ck")).first()
    return (r.n, r.ck)


def main(n=2_000_000, out_md="BENCH/ICEBERG.md"):
    spark = get_session("iceberg-demo", cores=32)
    base = os.path.join(tempfile.gettempdir(), "egp_iceberg_demo")
    shutil.rmtree(base, ignore_errors=True)
    walls, lines = {}, []

    # ---- vintage 1 + tagged vintage 2 via dynamic partition overwrite
    t = SnapshotLogTable(spark, base, partition_col="cell")
    t0 = time.time()
    s1 = t.overwrite(synth(spark, n, 1))
    t.set_tag("20210601", s1)
    walls["write_v1"] = time.time() - t0

    v2 = synth(spark, n, 2)
    t0 = time.time()
    s2 = t.overwrite_partitions(v2.filter(F.col("cell") < DIRTY))
    t.set_tag("20210901", s2)
    walls["overwrite_dirty_partitions"] = time.time() - t0
    carried = sum(1 for e in t._manifest(s2)["files"]
                  if any(e["path"] == p["path"] for p in t._manifest(s1)["files"]))
    assert carried > 0, "untouched partitions must carry over unrewritten"

    # ---- changelog read (metadata-only file diff) vs direct anti-join diff
    t0 = time.time()
    ch = t.changelog(s1, s2).persist()
    ins = ch.filter("_change_type = 'insert'").select("id", "caption")
    del_ = ch.filter("_change_type = 'delete'").select("id", "caption")
    net_add = ins.exceptAll(del_)     # inserted or modified-new rows
    net_del = del_.exceptAll(ins)     # deleted or modified-old rows
    n_add, n_del = net_add.count(), net_del.count()
    walls["changelog_diff"] = time.time() - t0

    t0 = time.time()
    r1, r2 = t.read("20210601"), t.read("20210901")
    d_add = r2.select("id", "caption").exceptAll(r1.select("id", "caption"))
    d_del = r1.select("id", "caption").exceptAll(r2.select("id", "caption"))
    assert d_add.exceptAll(net_add).count() == 0 and net_add.exceptAll(d_add).count() == 0
    assert d_del.exceptAll(net_del).count() == 0 and net_del.exceptAll(d_del).count() == 0
    walls["full_diff_verify"] = time.time() - t0
    ch.unpersist()

    # ---- rollback = restore-from-previous, zero data rewrite
    ck2 = checksum(t.read())
    t0 = time.time()
    t.rollback(s1)           # metadata-only: one hint flip
    walls["rollback_metadata_only"] = time.time() - t0
    ck_rb = checksum(t.read())
    ck1 = checksum(t.read(s1))
    assert ck_rb == ck1 and ck_rb != ck2
    t.rollback(s2)  # roll forward again — both snapshots intact
    assert checksum(t.read()) == ck2

    # ---- crashed partition-recompute job resumed from the manifest
    base_r = base + "_resume"
    shutil.rmtree(base_r, ignore_errors=True)
    tr = SnapshotLogTable(spark, base_r, partition_col="cell")
    sr1 = tr.overwrite(synth(spark, n // 4, 1))
    dirty_cells = list(range(DIRTY))
    recompute = synth(spark, n // 4, 2).filter(F.col("cell").isin(dirty_cells))
    t0 = time.time()
    # batch 1 commits, then the job "crashes" before batch 2
    tr.overwrite_partitions(recompute.filter(F.col("cell") < DIRTY // 2))
    # resume: partitions already on a post-sr1 snapshot are DONE — read
    # straight from the current manifest, no scan of the data
    done = {int(e["partition"]) for e in tr._manifest(tr.current_snapshot_id())["files"]
            if e["partition"] is not None
            and not os.path.basename(e["path"]).startswith(f"snap{sr1}-")}
    todo = [c for c in dirty_cells if c not in done]
    assert todo == list(range(DIRTY // 2, DIRTY)), (done, todo)
    tr.overwrite_partitions(recompute.filter(F.col("cell").isin(todo)))
    walls["resume_recompute"] = time.time() - t0
    # final state == the single-shot overwrite of all dirty partitions
    want = checksum(synth(spark, n // 4, 2))
    assert checksum(tr.read()) == want
    lines.append(f"resume skipped {len(done)}/{DIRTY} completed partitions; "
                 f"final checksum equals single-shot result {want}")

    # ---- manifest-level scan planning (VERDICT r6 #1): predicate reads
    # prune the file list from metadata stats alone. Partition predicate
    # first; then an id-range predicate against a table ingested in
    # sequential chunks (time-ordered ingestion — the realistic case
    # where per-file min/max stats are tight).
    all_files = len(t.plan_files(s2))
    pr_files = len(t.plan_files(s2, where=[("cell", "=", 3)]))
    t0 = time.time()
    ck_full = checksum(t.read(s2).filter(F.col("cell") == 3))
    walls["full_read_filter_cell"] = time.time() - t0
    t0 = time.time()
    ck_pruned = checksum(t.read(s2, where=[("cell", "=", 3)]))
    walls["pruned_read_cell"] = time.time() - t0
    assert ck_pruned == ck_full and pr_files < all_files
    lines.append(f"partition predicate: {pr_files}/{all_files} files planned")

    base_c = base + "_chunks"
    shutil.rmtree(base_c, ignore_errors=True)
    tc = SnapshotLogTable(spark, base_c)
    chunk = n // 8
    for c in range(8):
        df = synth(spark, chunk, 1).withColumn("id", F.col("id") + c * chunk)
        (tc.overwrite if c == 0 else tc.append)(df)
    lo, hi = 3 * chunk + 100, 3 * chunk + 50_000
    pred = [("id", ">=", lo), ("id", "<=", hi)]
    cf_all = len(tc.plan_files())
    cf_pruned = len(tc.plan_files(where=pred))
    t0 = time.time()
    ck_full = checksum(tc.read().filter(
        (F.col("id") >= lo) & (F.col("id") <= hi)))
    walls["full_read_filter_idrange"] = time.time() - t0
    t0 = time.time()
    ck_pruned = checksum(tc.read(where=pred))
    walls["pruned_read_idrange"] = time.time() - t0
    assert ck_pruned == ck_full and 0 < cf_pruned < cf_all
    lines.append(f"id-range stats predicate: {cf_pruned}/{cf_all} files "
                 f"planned (chunked ingestion, per-file min/max)")
    shutil.rmtree(base_c, ignore_errors=True)

    # ---- incremental view maintenance vs recompute (VERDICT r6 #3):
    # per-cell counts + checksum sums maintained from the changelog
    # between vintages — reads only the rewritten partitions' files.
    from egp_crn_spark.operators import incremental as IV

    keys = ["cell"]
    sums = {"ck": F.crc32(F.concat_ws("|", "id", "caption"))}
    state = IV.snapshot_aggregate(t.read(s1), keys, sums).persist()
    state.count()
    t0 = time.time()
    maintained = IV.merge_aggregate_state(
        state, IV.aggregate_delta(t.changelog(s1, s2), keys, sums),
        keys, sums)
    got_inc = {r.cell: (r._rows, r.ck) for r in maintained.collect()}
    walls["incremental_maintain"] = time.time() - t0
    t0 = time.time()
    got_full = {r.cell: (r._rows, r.ck) for r in
                IV.snapshot_aggregate(t.read(s2), keys, sums).collect()}
    walls["recompute_aggregate"] = time.time() - t0
    assert got_inc == got_full
    lines.append(f"incremental aggregate over {len(got_inc)} groups equals "
                 f"recompute exactly; reads {DIRTY}/{N_PARTS} partitions")

    # small-delta leg: a 10k-row append maintained against the 2M-row
    # table — the steady-state shape of view maintenance, where the
    # delta/table ratio (0.5%) is what a daily vintage looks like
    s3 = t.append(synth(spark, 10_000, 1)
                  .withColumn("id", F.col("id") + 10 * n))
    state2 = IV.merge_aggregate_state(
        state, IV.aggregate_delta(t.changelog(s1, s2), keys, sums),
        keys, sums).persist()
    state2.count()
    t0 = time.time()
    got_inc3 = {r.cell: (r._rows, r.ck) for r in
                IV.merge_aggregate_state(
                    state2, IV.aggregate_delta(t.changelog(s2, s3), keys, sums),
                    keys, sums).collect()}
    walls["incremental_maintain_small_delta"] = time.time() - t0
    t0 = time.time()
    got_full3 = {r.cell: (r._rows, r.ck) for r in
                 IV.snapshot_aggregate(t.read(s3), keys, sums).collect()}
    walls["recompute_aggregate_small_delta"] = time.time() - t0
    assert got_inc3 == got_full3
    # what each path SCANS is the scale-honest comparison: walls at 2M
    # rows sit on the fixed per-job overhead floor (~0.5 s either way);
    # at 100 TB the file counts below are the whole story
    f2 = {e["path"]: e["rows"] for e in t._manifest(s2)["files"]}
    f3 = {e["path"]: e["rows"] for e in t._manifest(s3)["files"]}
    delta_rows = sum(r for p, r in f3.items() if p not in f2) \
        + sum(r for p, r in f2.items() if p not in f3)
    lines.append(
        f"small-delta maintenance scans {delta_rows:,} changelog rows vs "
        f"{sum(f3.values()):,} for recompute (walls at this scale are "
        f"job-overhead bound; the scanned-rows ratio is the 100-TB story)")
    t.rollback(s2)  # keep the later total_rows/read() legs on vintage 2
    state.unpersist()
    state2.unpersist()

    total_rows = t.read().count()
    lines.append(f"n={n:,} rows, {N_PARTS} partitions, {DIRTY} dirty; "
                 f"changelog net +{n_add}/-{n_del} rows (verified vs full diff)")

    md = ["# Catalog path: snapshot diff + resume (snaplog emulation)", "",
          "Iceberg-semantics snapshot log on parquet (sources/snaplog.py);",
          "`sources.tables` routes through it by default in the sandbox, so the",
          "table_roundtrip / delta / lineage oracles exercise this path.",
          f"Scale: {n:,} rows, v2 rows {total_rows:,}. local[32].", ""]
    md += [f"- {k}: {v:.2f} s" for k, v in walls.items()]
    md += [""] + [f"- {ln}" for ln in lines]
    with open(out_md, "w") as f:
        f.write("\n".join(md) + "\n")
    print("\n".join(md))
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(base_r, ignore_errors=True)


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    out = sys.argv[2] if len(sys.argv) > 2 else "BENCH/ICEBERG.md"
    main(n, out)
