"""Neighbour comparison, suggested snapping, and the stream == batch
windowed event counts."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from egp_crn_spark.operators.neighbours import block_neighbours, compare_neighbours
from egp_crn_spark.operators.snapsuggest import suggested_snapping, unintegrated_bo_nodes
from egp_crn_spark.streaming import windowed_event_counts


def _grid_blocks(spark, n=3, s=1000.0, skip=()):
    rows = []
    for i in range(n):
        for j in range(n):
            bb = i * n + j + 1
            if bb in skip:
                continue
            rows.append({
                "bb_uid": bb,
                "vertices": [[i * s, j * s], [(i + 1) * s, j * s],
                             [(i + 1) * s, (j + 1) * s], [i * s, (j + 1) * s]],
            })
    return spark.createDataFrame(pd.DataFrame(rows))


def test_block_neighbours_grid(spark):
    blocks = _grid_blocks(spark, 3)
    got = {r.block: list(r.nbrs) for r in block_neighbours(blocks).collect()}
    # center block 5 (i=1,j=1) touches all 8 others (corner touch counts)
    assert got[5] == [1, 2, 3, 4, 6, 7, 8, 9]
    # corner block 1 touches 2, 4, 5
    assert got[1] == [2, 4, 5]


def test_compare_neighbours(spark):
    crn = _grid_blocks(spark, 3)
    ngd = _grid_blocks(spark, 3, skip=(9,))
    got = compare_neighbours(crn, ngd).toPandas().set_index("block")
    # blocks adjacent to 9 (i.e. 5, 6, 8) have extra neighbour 9 in CRN
    assert got.loc[5, "extra"] == "9"
    assert got.loc[6, "extra"] == "9"
    assert got.loc[8, "extra"] == "9"
    assert got.loc[1, "identical"]
    # block 9 exists only in CRN: all its neighbours are extra
    assert got.loc[9, "extra"] == "5,6,8"
    assert not got.loc[9, "identical"]


def test_suggested_snapping(spark):
    nrn = "b" * 32
    rows = [
        # road network: one horizontal road
        {"segment_id": "r1", "segment_id_orig": nrn, "segment_type": 1, "boundary": 0,
         "bo_new": 0, "ngd_uid": -1, "structure_type": "Unknown",
         "vertices": [[0.0, 0.0], [100.0, 0.0]]},
        # BO with deadend node 15 from road node (0,0) → node suggestion
        {"segment_id": "bo1", "segment_id_orig": "-1", "segment_type": 2, "boundary": 0,
         "bo_new": 1, "ngd_uid": 1, "structure_type": "Unknown",
         "vertices": [[9.0, 12.0], [9.0, 500.0]]},
        # BO with deadend node 10 above road MIDDLE (50, 10): nearest road
        # nodes are ~51 away (>20) but road geometry within 10 → edge
        {"segment_id": "bo2", "segment_id_orig": "-1", "segment_type": 2, "boundary": 0,
         "bo_new": 1, "ngd_uid": 2, "structure_type": "Unknown",
         "vertices": [[50.0, 10.0], [50.0, 600.0]]},
        # far BO → no suggestion
        {"segment_id": "bo3", "segment_id_orig": "-1", "segment_type": 2, "boundary": 0,
         "bo_new": 1, "ngd_uid": 3, "structure_type": "Unknown",
         "vertices": [[5000.0, 5000.0], [5000.0, 6000.0]]},
    ]
    arcs = spark.createDataFrame(pd.DataFrame(rows))
    un = unintegrated_bo_nodes(arcs).toPandas()
    assert len(un) == 6  # all BO endpoints are deadends here
    got = suggested_snapping(arcs).toPandas()
    node_sugg = got[got.snapping_type == "node"]
    edge_sugg = got[got.snapping_type == "edge"]
    assert len(node_sugg) == 1
    assert (node_sugg.iloc[0][["from_x", "from_y", "to_x", "to_y"]].values
            == np.array([9.0, 12.0, 0.0, 0.0])).all()
    assert len(edge_sugg) == 1
    assert (edge_sugg.iloc[0][["from_x", "from_y", "to_x", "to_y"]].values
            == np.array([50.0, 10.0, 50.0, 0.0])).all()


# ---------------------------------------------------------------- streaming
@pytest.fixture()
def stream_events(spark, tmp_path):
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    path = str(tmp_path / "events_stream")
    src.write.parquet(path)
    return spark.readStream.schema(src.schema).parquet(path), src


def _run_stream(df, name):
    q = (df.writeStream.outputMode("complete").format("memory")
         .queryName(name).start())
    q.processAllAvailable()
    q.stop()


def test_windowed_counts_stream_equals_batch(spark, stream_events):
    stream, batch = stream_events
    _run_stream(windowed_event_counts(stream), "win_counts")
    got = spark.sql(
        "select window.start as ws, event_type, n, total_value from win_counts"
    ).toPandas()
    want = windowed_event_counts(batch).selectExpr(
        "window.start as ws", "event_type", "n", "total_value"
    ).toPandas()
    got = got.sort_values(["ws", "event_type"]).reset_index(drop=True)
    want = want.sort_values(["ws", "event_type"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got.n.values == want.n.values).all()
