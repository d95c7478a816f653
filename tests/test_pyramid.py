"""Tile pyramid rollup: level-by-level == independent numpy reference,
count conservation, and stride-composition exactness."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.functions import cells as C
from egp_crn_spark.functions.imagecodec import decode_image, resize_nearest
from egp_crn_spark.operators.pyramid import (base_tiles, build_pyramid,
                                             rollup_level)
from tests import plans

RES, MIN_RES, PX = 5, 2, 8


@pytest.fixture(scope="module")
def images(spark, fixtures_dir):
    return spark.read.parquet(f"{fixtures_dir}/images.parquet")


def _np_pyramid(images_pdf, res, min_res, px):
    """Independent driver-side reference: dict res -> {cell: (arr, n)}."""
    from egp_crn_spark.config import EXTENT
    levels: dict[int, dict[int, tuple[np.ndarray, int]]] = {}
    base: dict[int, tuple[bytes, str, int]] = {}
    scale = EXTENT / (1 << 32)
    ph = images_pdf["phash"].to_numpy(np.int64)
    xs = (((ph >> 32) & 0xFFFFFFFF) + 0.5) * scale
    ys = ((ph & 0xFFFFFFFF) + 0.5) * scale
    cells = C.cell_of_xy_np(xs, ys, res)
    for cell, img_id, b in zip(cells, images_pdf["image_id"],
                               images_pdf["bytes"]):
        cell = int(cell)
        prev = base.get(cell)
        if prev is None:
            base[cell] = (b, img_id, 1)
        else:
            pb, pid, n = prev
            if img_id < pid:
                pb, pid = b, img_id
            base[cell] = (pb, pid, n + 1)
    levels[res] = {
        c: (resize_nearest(decode_image(bytes(b)), px, px), n)
        for c, (b, _pid, n) in base.items()
    }
    for r in range(res - 1, min_res - 1, -1):
        up: dict[int, tuple[np.ndarray, int]] = {}
        for cell, (arr, n) in levels[r + 1].items():
            morton = cell & ((1 << C.RES_SHIFT) - 1)
            parent = ((r << C.RES_SHIFT) | (morton >> 2))
            qx, qy = morton & 1, (morton >> 1) & 1
            canvas, tot = up.get(parent, (np.zeros((px, px, 3), np.uint8), 0))
            half = px // 2
            canvas = canvas.copy()
            canvas[qy * half:(qy + 1) * half,
                   qx * half:(qx + 1) * half] = arr[::2, ::2]
            up[parent] = (canvas, tot + n)
        levels[r] = up
    return levels


def test_pyramid_matches_numpy_reference(spark, images):
    got = build_pyramid(images, RES, MIN_RES, PX).toPandas()
    ref = _np_pyramid(images.toPandas(), RES, MIN_RES, PX)
    for r in range(MIN_RES, RES + 1):
        sub = got[got["res"] == r]
        assert set(sub["cell"]) == set(ref[r].keys()), f"cells differ at res {r}"
        for _, row in sub.iterrows():
            arr = np.frombuffer(bytes(row["px"]), np.uint8).reshape(PX, PX, 3)
            want_arr, want_n = ref[r][int(row["cell"])]
            assert row["n_src"] == want_n
            assert (arr == want_arr).all(), f"pixels differ at res {r}"


def test_count_conservation(spark, images):
    pyr = build_pyramid(images, RES, MIN_RES, PX)
    per_level = (pyr.groupBy("res").agg(F.sum("n_src").alias("n"))
                 .orderBy("res").collect())
    total = images.count()
    assert all(r.n == total for r in per_level)


@pytest.mark.parametrize("bound", ["under", "over"])
def test_pyramid_update_equals_rebuild(spark, images, monkeypatch, bound):
    """Incremental maintenance == full rebuild, byte-equal at every
    level, across inserts + deletes (including cells emptied by the
    delete of their last image) — with the dirty set broadcast (under
    the guard bound) and with it over the bound (shuffled hash joins)."""
    from egp_crn_spark.operators import guard
    from egp_crn_spark.operators.pyramid import pyramid_update

    # cache lookups ignore join hints, so levels cached by an earlier
    # call would stand in for this call's hinted joins
    spark.catalog.clearCache()
    if bound == "over":
        monkeypatch.setattr(guard, "BROADCAST_MAX_ROWS", 0)

    h = F.abs(F.xxhash64("image_id", F.lit(11)))
    v1 = images.filter(h % 3 != 0)
    inserts = images.filter(h % 3 == 0)
    deletes = v1.filter(h % 5 == 0)
    v2 = (v1.join(deletes.select("image_id"), "image_id", "left_anti")
          .unionByName(inserts))
    changed = (inserts.withColumn("_change_type", F.lit("insert"))
               .unionByName(deletes.withColumn("_change_type",
                                               F.lit("delete"))))

    old = build_pyramid(v1, RES, MIN_RES, PX)
    upd = pyramid_update(old, v2, changed, RES, MIN_RES, PX)
    join = "ShuffledHashJoin" if bound == "over" else "BroadcastHashJoin"
    assert join in plans.physical_plan(upd)
    got = upd.toPandas()
    want = build_pyramid(v2, RES, MIN_RES, PX).toPandas()
    assert len(got) == len(want)
    gm = {(int(r["res"]), int(r["cell"])): (bytes(r["px"]), int(r["n_src"]))
          for _, r in got.iterrows()}
    wm = {(int(r["res"]), int(r["cell"])): (bytes(r["px"]), int(r["n_src"]))
          for _, r in want.iterrows()}
    assert gm == wm
    # the delete leg really exercised cell emptying: some v1 base cell
    # must be gone from the maintained pyramid
    old_cells = {int(r["cell"]) for _, r in
                 old.filter(F.col("res") == RES).toPandas().iterrows()}
    new_cells = {c for (r, c) in wm if r == RES}
    assert old_cells - new_cells, "fixture change set emptied no cell"
    # delta emit: exactly the recomputed tiles, byte-equal to their
    # full-emit twins, and strictly fewer than the whole pyramid
    delta = pyramid_update(old, v2, changed, RES, MIN_RES, PX,
                           emit="delta").toPandas()
    assert 0 < len(delta) < len(want)
    for _, r in delta.iterrows():
        assert wm[(int(r["res"]), int(r["cell"]))] == (bytes(r["px"]),
                                                       int(r["n_src"]))


def test_pyramid_maintained_across_catalog_vintages(spark, images,
                                                    tmp_path):
    """The production maintenance loop: the corpus lives in a snaplog
    table, each vintage commits a new snapshot, and the pyramid advances
    with pyramid_update fed by the catalog's OWN metadata-only
    changelog — equal to a from-scratch rebuild after every vintage
    (including the overwrite vintage whose changelog re-states
    unmodified rows as delete+insert)."""
    from egp_crn_spark.operators.pyramid import pyramid_update
    from egp_crn_spark.sources.snaplog import SnapshotLogTable

    t = SnapshotLogTable(spark, str(tmp_path / "corpus"))
    h = F.abs(F.xxhash64("image_id", F.lit(5)))
    sid = t.overwrite(images.filter(h % 3 == 0))
    pyr = build_pyramid(t.read(), RES, MIN_RES, PX)

    def advance(new_sid):
        nonlocal pyr, sid
        ch = t.changelog(sid, new_sid)
        pyr = pyramid_update(pyr, t.read(new_sid), ch, RES, MIN_RES, PX)
        sid = new_sid

    def check():
        want = build_pyramid(t.read(sid), RES, MIN_RES, PX).toPandas()
        got = pyr.toPandas()
        wm = {(int(r["res"]), int(r["cell"])): (bytes(r["px"]),
                                                int(r["n_src"]))
              for _, r in want.iterrows()}
        gm = {(int(r["res"]), int(r["cell"])): (bytes(r["px"]),
                                                int(r["n_src"]))
              for _, r in got.iterrows()}
        assert gm == wm

    # vintage 2: append new imagery
    advance(t.append(images.filter(h % 3 == 1)))
    check()
    # vintage 3: full overwrite dropping some rows — the changelog
    # re-states every surviving row (delete+insert), dirtying their
    # cells; the repair must still converge to the rebuild
    survivors = images.filter((h % 3 != 2) & (h % 5 != 0))
    advance(t.overwrite(survivors))
    check()


def test_pyramid_maintained_over_streaming_ingest(spark, images,
                                                  tmp_path):
    """Continuously-maintained map stack: imagery arrives through a
    Structured Streaming source, each micro-batch one snapshot append
    (foreachBatch), and the pyramid advances per snapshot from the
    catalog's own changelog — equal to a from-scratch build of the
    final table."""
    from egp_crn_spark.operators.pyramid import pyramid_update
    from egp_crn_spark.sources.snaplog import SnapshotLogTable

    src = tmp_path / "src"
    src.mkdir()
    t = SnapshotLogTable(spark, str(tmp_path / "tbl"))
    pdf = images.select("image_id", "phash", "bytes").toPandas()
    stream = spark.readStream.schema(
        "image_id string, phash long, bytes binary").parquet(str(src))
    q = (stream.writeStream.foreachBatch(lambda batch, _: t.append(batch))
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    sids = []
    step = (len(pdf) + 2) // 3
    for i in range(3):
        pdf.iloc[i * step:(i + 1) * step].to_parquet(
            src / f"b{i}.parquet", index=False)
        q.processAllAvailable()
        sids.append(t.current_snapshot_id())
    q.stop()
    assert len(set(sids)) == 3

    pyr = build_pyramid(t.read(sids[0]), RES, MIN_RES, PX)
    for a, b in zip(sids, sids[1:]):
        pyr = pyramid_update(pyr, t.read(b), t.changelog(a, b),
                             RES, MIN_RES, PX)
    want = build_pyramid(t.read(sids[-1]), RES, MIN_RES, PX).toPandas()
    got = pyr.toPandas()
    wm = {(int(r["res"]), int(r["cell"])): (bytes(r["px"]), int(r["n_src"]))
          for _, r in want.iterrows()}
    gm = {(int(r["res"]), int(r["cell"])): (bytes(r["px"]), int(r["n_src"]))
          for _, r in got.iterrows()}
    assert gm == wm


def test_pyramid_serving_pruned_reads(spark, images, tmp_path):
    """Serving composition: the pyramid lands in a snaplog table
    partitioned by res and cell-sorted, so a map client fetching one
    zoom's tile range reads a partition-and-stats-pruned slice."""
    from egp_crn_spark.operators.cluster import skipping_report
    from egp_crn_spark.sources.snaplog import SnapshotLogTable

    pyr = build_pyramid(images, RES, MIN_RES, PX)
    t = SnapshotLogTable(spark, str(tmp_path / "tiles"),
                         partition_col="res", sort_cols=["cell"])
    t.overwrite(pyr)
    cells = sorted(
        r.cell for r in pyr.filter(F.col("res") == RES).select("cell")
        .collect())
    lo, hi = cells[0], cells[len(cells) // 8]
    where = [("res", "=", RES), ("cell", ">=", lo), ("cell", "<=", hi)]
    rep = skipping_report(t, where)
    assert rep["files_read"] < rep["files_total"]
    got = t.read(where=where).select("cell", "n_src").toPandas()
    want = (pyr.filter((F.col("res") == RES) & (F.col("cell") >= lo)
                       & (F.col("cell") <= hi))
            .select("cell", "n_src").toPandas())
    assert sorted(map(tuple, got.values.tolist())) == \
        sorted(map(tuple, want.values.tolist()))
    assert len(want) > 0


def test_rollup_is_stride_composition(spark, images):
    """Two single-level rollups == the same pixels as stride-4 sampling
    of the base quadrants (exactness of the nearest-neighbour scheme)."""
    base = base_tiles(images, RES, PX).cache()
    up2 = rollup_level(rollup_level(base, PX), PX).toPandas()
    base_pdf = base.toPandas()
    grand: dict[int, np.ndarray] = {}
    for _, r in base_pdf.iterrows():
        cell = int(r["cell"])
        morton = cell & ((1 << C.RES_SHIFT) - 1)
        parent = ((RES - 2) << C.RES_SHIFT) | (morton >> 4)
        q = morton & 0xF  # two Morton levels: x = bits 0,2; y = bits 1,3
        qx = (q & 1) | ((q >> 1) & 2)
        qy = ((q >> 1) & 1) | ((q >> 2) & 2)
        arr = np.frombuffer(bytes(r["px"]), np.uint8).reshape(PX, PX, 3)
        quarter = PX // 4
        canvas = grand.setdefault(parent, np.zeros((PX, PX, 3), np.uint8))
        canvas[qy * quarter:(qy + 1) * quarter,
               qx * quarter:(qx + 1) * quarter] = arr[::4, ::4]
    assert set(up2["cell"]) == set(grand.keys())
    for _, row in up2.iterrows():
        arr = np.frombuffer(bytes(row["px"]), np.uint8).reshape(PX, PX, 3)
        assert (arr == grand[int(row["cell"])]).all()
