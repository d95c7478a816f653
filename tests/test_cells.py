"""Morton cell index: Column builders vs numpy twins vs SQL emitters."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from egp_crn_spark.config import EXTENT
from egp_crn_spark.functions import cells
from tests.twins import cell_to_ixy_np, cells_covering_bbox


def _ref_interleave(ix: int, iy: int) -> int:
    out = 0
    for b in range(16):
        out |= ((ix >> b) & 1) << (2 * b)
        out |= ((iy >> b) & 1) << (2 * b + 1)
    return out


def test_spread_bits_np_matches_bit_loop():
    rng = np.random.default_rng(0)
    ix = rng.integers(0, 1 << 16, 200)
    iy = rng.integers(0, 1 << 16, 200)
    got = cells.cell_encode_np(ix, iy, 16)
    want = np.array([(16 << cells.RES_SHIFT) | _ref_interleave(a, b) for a, b in zip(ix, iy)])
    assert (got == want).all()


# domain corners, edges and just-outside values (the clamping paths)
_EDGES = [0.0, 1e-9, EXTENT / 2, EXTENT - 1e-9, EXTENT, -5.0, EXTENT + 5.0]


def _edge_points(rng, n):
    ex, ey = np.meshgrid(_EDGES, _EDGES)
    return pd.DataFrame({
        "x": np.r_[rng.uniform(0, EXTENT, n), ex.ravel()],
        "y": np.r_[rng.uniform(0, EXTENT, n), ey.ravel()],
    })


def test_column_encode_matches_numpy(spark):
    pdf = _edge_points(np.random.default_rng(1), 500)
    for res in (0, 1, 5, 10, 16):
        df = spark.createDataFrame(pdf).select(
            cells.cell_of_xy(F.col("x"), F.col("y"), res).alias("c")
        )
        got = np.array([r.c for r in df.collect()])
        want = cells.cell_of_xy_np(pdf.x.values, pdf.y.values, res)
        assert (got == want).all(), res


def test_column_spread_matches_numpy_on_every_16bit_input(spark):
    """The Column spread (two byte-table lookups) equals the numpy
    shift/mask chain on all 2**16 inputs, and on inputs outside 16 bits
    (both keep only the low 16 bits)."""
    pdf = spark.range(-(1 << 16), 1 << 17).select(
        "id", cells._spread_bits(F.col("id")).alias("s")).toPandas()
    assert len(pdf) == 3 << 16
    np.testing.assert_array_equal(
        pdf["s"].to_numpy(), cells.spread_bits_np(pdf["id"].to_numpy()))


def test_cell_encode_and_kring_match_numpy(spark):
    """cell_encode and kring_cells equal their numpy twins (cell_encode_np
    over the in-domain (2k+1)^2 offsets, in dx-major order) at res 0, 1,
    10 and 16, domain edges included; a null coordinate clamps to 0."""
    pdf = _edge_points(np.random.default_rng(4), 300)
    df = spark.createDataFrame(pdf).union(
        spark.createDataFrame([(None, 7.0)], "x double, y double"))
    for res in (0, 1, 10, 16):
        n = 1 << res
        ix, iy = cells.xy_to_ixy(F.col("x"), F.col("y"), res)
        out = df.select(ix.alias("ix"), iy.alias("iy"),
                        cells.cell_encode(ix, iy, res).alias("c"),
                        cells.kring_cells(ix, iy, res, 1).alias("ring"),
                        cells.kring_cells(ix, iy, res, 2).alias("ring2")).toPandas()
        x = np.r_[pdf.x.to_numpy(), 0.0]
        y = np.r_[pdf.y.to_numpy(), 7.0]
        want_ix = np.clip(np.floor(x * (n / EXTENT)), 0, n - 1).astype(np.int64)
        want_iy = np.clip(np.floor(y * (n / EXTENT)), 0, n - 1).astype(np.int64)
        np.testing.assert_array_equal(out["ix"].to_numpy(), want_ix)
        np.testing.assert_array_equal(out["iy"].to_numpy(), want_iy)
        np.testing.assert_array_equal(
            out["c"].to_numpy(), cells.cell_encode_np(want_ix, want_iy, res))
        for k, col in ((1, "ring"), (2, "ring2")):
            for a, b, ring in zip(want_ix, want_iy, out[col]):
                want = [int(cells.cell_encode_np(np.array([a + dx]),
                                                 np.array([b + dy]), res)[0])
                        for dx in range(-k, k + 1) for dy in range(-k, k + 1)
                        if 0 <= a + dx < n and 0 <= b + dy < n]
                assert list(ring) == want, (res, k, a, b)


def test_cell_encode_expression_stays_small(spark):
    """Each axis input appears twice in cell_encode's JVM expression (two
    byte-table lookups). The shift/mask chain read its input twice per
    step, copying it 2**4 times per axis; this bound catches its return."""
    ax, ay = "a" * 1000, "b" * 1000
    e = str(cells.cell_encode(F.col(ax), F.col(ay), 10))
    assert e.count(ax) == 2 and e.count(ay) == 2
    assert len(e) < 8_000


def test_session_turns_off_call_site_capture(spark):
    """get_session turns off PySpark's per-call Python call-site capture
    (about four Py4J round trips per Column/DataFrame API call)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_sql_emitter_matches_numpy():
    rng = np.random.default_rng(2)
    pdf = pd.DataFrame({
        "x": rng.uniform(0, EXTENT, 300),
        "y": rng.uniform(0, EXTENT, 300),
    })
    for res in (3, 9, 14):
        sql = f"select {cells.cell_of_xy_sql('x', 'y', res)} as c from pdf"
        got = duckdb.sql(sql).df().c.values
        want = cells.cell_of_xy_np(pdf.x.values, pdf.y.values, res)
        assert (got == want).all(), res


def test_parent_cell(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "x": rng.uniform(0, EXTENT, 200),
        "y": rng.uniform(0, EXTENT, 200),
    })
    df = spark.createDataFrame(pdf).select(
        cells.parent_cell(cells.cell_of_xy(F.col("x"), F.col("y"), 10), 10, 6).alias("p"),
        cells.cell_of_xy(F.col("x"), F.col("y"), 6).alias("direct"),
    )
    rows = df.collect()
    assert all(r.p == r.direct for r in rows)


def test_kring_contains_all_near_cells(spark):
    # any point within cell_size(res) of another must share a k=1 ring cell
    res = 8
    size = cells.cell_size(res)
    pdf = pd.DataFrame({"x": [100.0, 100.0 + size * 0.99], "y": [200.0, 200.0 + size * 0.99]})
    df = spark.createDataFrame(pdf)
    ix, iy = cells.xy_to_ixy(F.col("x"), F.col("y"), res)
    rows = df.select(
        cells.cell_of_xy(F.col("x"), F.col("y"), res).alias("own"),
        cells.kring_cells(ix, iy, res, 1).alias("ring"),
    ).collect()
    # the second point's own cell must appear in the first point's ring
    assert rows[1].own in rows[0].ring
    assert rows[0].own in rows[0].ring  # ring includes self


def test_res_for_radius():
    r = cells.res_for_radius(5.0)
    assert cells.cell_size(r) >= 5.0
    assert r == 13  # 65536/2^13 = 8 >= 5; 2^14 -> 4 < 5


def test_cells_covering_bbox():
    got = cells_covering_bbox(0.0, 0.0, cells.cell_size(4) * 1.5, cells.cell_size(4) * 0.5, 4)
    assert len(got) == 2  # two cells in x, one in y


def test_morton_decode_roundtrip():
    """cell_to_ixy_np inverts cell_encode_np at every resolution tier
    (the vector-tile parity oracle derives tile boxes from cell ids with it)."""
    import numpy as np

    ix = np.arange(0, 65536, 97, dtype=np.int64)
    iy = (ix * 7919) % 65536
    for res in (0, 4, 10, 16):
        n = 1 << res
        a, b = ix % n, iy % n
        enc = cells.cell_encode_np(a, b, res)
        ra, rb = cell_to_ixy_np(enc)
        assert (ra == a).all() and (rb == b).all()
