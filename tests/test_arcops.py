"""Arc-domain operators vs literal pandas re-implementations of the
reference logic (validate_topology.py / helpers.py), sharing only the
numpy predicate kernels — the distributed plans (cell prefilters, joins,
dedup) are what's under test."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.config import (CLUSTER_TOLERANCE, COORD_DECIMALS, EXTENT,
                                  MIN_DISTANCE)
from egp_crn_spark.functions import geomkernel as GK
from egp_crn_spark.operators import nodes as N
from egp_crn_spark.operators import snap as SN
from egp_crn_spark.operators import standardize as ST
from egp_crn_spark.operators import validate as V
from egp_crn_spark.operators.distance import (arc_within_network_distance,
                                              point_to_arc_distance_join)
from tests.twins import point_to_polyline_distance


# ---------------------------------------------------------------- fixture prep
@pytest.fixture(scope="module")
def arcs_pd(fixtures_dir):
    df = pd.read_parquet(f"{fixtures_dir}/arcs.parquet")
    df["vertices"] = df["vertices"].map(lambda vs: [list(p) for p in vs])
    return df


@pytest.fixture(scope="module")
def arcs_std(spark, arcs_pd):
    sdf = spark.createDataFrame(arcs_pd)
    return ST.standardize(sdf).cache()


@pytest.fixture(scope="module")
def arcs_std_pd(arcs_std):
    df = arcs_std.toPandas()
    df["np_verts"] = df["vertices"].map(lambda vs: np.asarray([list(p) for p in vs]))
    return df


def _tags(arcs_std_pd, ids):
    return set(arcs_std_pd.set_index("segment_id").loc[sorted(ids), "tag"])


# ---------------------------------------------------------------- standardize
def test_standardize_drops_zero_length_and_cleans_nulls(arcs_pd, arcs_std_pd):
    assert "zero_len" in set(arcs_pd.tag)
    assert "zero_len" not in set(arcs_std_pd.tag)
    nc = arcs_std_pd.loc[arcs_std_pd.tag == "null_coord", "np_verts"]
    assert len(nc) == 1
    assert not np.isnan(nc.iloc[0]).any()
    assert len(nc.iloc[0]) == 2


def test_standardize_domains(arcs_std_pd):
    assert set(arcs_std_pd.structure_type) <= set(ST.STRUCTURE_DOMAIN.values())
    assert "bad-value" not in set(arcs_std_pd.structure_type)
    assert set(arcs_std_pd.segment_type) <= {1, 2}
    # rule i/ii: any bo_new=1 has segment_type=2; new BOs have bo_new=1
    sub = arcs_std_pd
    assert (sub.loc[sub.bo_new == 1, "segment_type"] == 2).all()
    assert (sub.loc[(sub.ngd_uid == -1) & (sub.segment_type == 2), "bo_new"] == 1).all()
    # rule iii: NRN arcs have bo_new=0, boundary=0, segment_type=1
    nrn = sub.loc[sub.segment_id_orig.str.len() == 32]
    assert (nrn.bo_new == 0).all() and (nrn.boundary == 0).all() and (nrn.segment_type == 1).all()


def test_standardize_id_repair_deterministic(spark, arcs_pd):
    bad = arcs_pd.copy()
    bad.loc[bad.index[:3], "segment_id"] = "dup-id"  # short AND duplicated
    a = ST.standardize(spark.createDataFrame(bad)).select("segment_id", "tag").toPandas()
    b = ST.standardize(spark.createDataFrame(bad)).select("segment_id", "tag").toPandas()
    assert a.segment_id.is_unique
    assert (a.segment_id.str.len() == 32).all()
    assert a.segment_id.str.fullmatch("[0-9a-f]{32}").all()
    pd.testing.assert_frame_equal(
        a.sort_values("segment_id").reset_index(drop=True),
        b.sort_values("segment_id").reset_index(drop=True),
    )


# ---------------------------------------------------------------- nodes
def node_oracle(x: float, y: float) -> tuple[int, int]:
    """node_key in Python: each coordinate's shortest round-trip decimal
    (``repr``), rounded HALF_UP to COORD_DECIMALS and scaled to int.
    Spark's ``round`` reads a double through that decimal form, not its
    exact binary value, so ``Decimal(x)`` would be the wrong oracle on
    decimal ties such as 0.000155 (binary value just below the tie)."""
    def q(v):
        d = Decimal(repr(float(v))).quantize(Decimal(1).scaleb(-COORD_DECIMALS),
                                            ROUND_HALF_UP)
        return int(d.scaleb(COORD_DECIMALS))
    return q(x), q(y)


def _keys(nodes) -> list[tuple[int, int]]:
    """node column values (Rows or dicts) as (nx, ny) tuples."""
    return [(k["nx"], k["ny"]) for k in nodes]


def test_crossings_deg4(arcs_std, arcs_std_pd):
    got = N.crossings(arcs_std).toPandas()
    nodes = _keys(got.node)
    # the crafted degree-4 node must be present with count exactly 4
    lattice = 65536.0 / 256.0
    key = node_oracle(10 * lattice, 10 * lattice)
    assert key in set(nodes)
    assert int(dict(zip(nodes, got["count"]))[key]) == 4
    # oracle: full endpoint multiset count
    cnt = {}
    for vs in arcs_std_pd.np_verts:
        for p in (vs[0], vs[-1]):
            k = node_oracle(p[0], p[1])
            cnt[k] = cnt.get(k, 0) + 1
    want = {k for k, v in cnt.items() if v >= 4}
    assert set(nodes) == want


def test_deadends_match_oracle(arcs_std, arcs_std_pd):
    got = N.deadends(arcs_std).toPandas()
    cnt = {}
    for vs in arcs_std_pd.np_verts:
        for p in (vs[0], vs[-1]):
            k = node_oracle(p[0], p[1])
            cnt[k] = cnt.get(k, 0) + 1
    want = {k for k, v in cnt.items() if v == 1}
    assert set(_keys(got.node)) == want


def test_node_key_rounding_battery(spark):
    """node_key matches its Decimal oracle on odd multiples of 5e-6
    (decimal ties in their shortest form), signed zeros, values just
    below zero, coordinates near EXTENT and 10k seeded random points."""
    ties = [Decimal(10 * k + 5).scaleb(-6) for k in range(4000)]
    xs = [float(t) for t in ties] + [-float(t) for t in ties[:500]]
    xs += [float(1000 + t) for t in ties[:1000]]
    xs += [float(Decimal(EXTENT) - t) for t in ties[:50]]
    xs += [0.0, -0.0, -1e-6, 1e-6, -4e-6, -6e-6, EXTENT, EXTENT - 1e-6]
    xs += list(np.random.default_rng(7).uniform(0.0, EXTENT, 10_000))
    pts = spark.createDataFrame(
        [([float(x), float(y)],) for x, y in zip(xs, reversed(xs))],
        "pt array<double>")
    got = pts.select("pt", N.node_key(F.col("pt")).alias("k")).collect()
    assert len(got) == len(xs)
    bad = [(r.pt, k) for r, k in zip(got, _keys(r.k for r in got))
           if k != node_oracle(*r.pt)]
    assert not bad, bad[:5]


@pytest.mark.parametrize("x0", [-0.0, -1e-6])
def test_signed_zero_is_one_node(spark, x0):
    """Two BO arcs meet where one starts at (x0, 5) and the other at
    (0.0, 5): both round to the same node, so the junction is no
    deadend in deadends, unintegrated_bo_nodes or v302."""
    from egp_crn_spark.operators.snapsuggest import unintegrated_bo_nodes

    arcs = spark.createDataFrame(pd.DataFrame({
        "segment_id": ["a", "b"],
        "segment_type": [2, 2],
        "vertices": [[[x0, 5.0], [20.0, 5.0]], [[0.0, 5.0], [0.0, 25.0]]],
    }))
    want = {(2_000_000, 500_000), (0, 2_500_000)}
    assert set(_keys(r.node for r in N.deadends(arcs).collect())) == want
    assert set(_keys(r.node for r in unintegrated_bo_nodes(arcs).collect())) == want
    # not one node: a's start would be a deadend 0 m from b, unconnected
    assert V.v302_min_distance(arcs).count() == 0


# ---------------------------------------------------------------- validations
def _endpoints(vs):
    return (tuple(vs[0]), tuple(vs[-1]))


def test_v101_simple(arcs_std, arcs_std_pd):
    got = set(V.v101_simple(arcs_std).toPandas().flagged_id)
    want = set(
        arcs_std_pd.loc[~arcs_std_pd.np_verts.map(GK.polyline_is_simple), "segment_id"]
    )
    assert got == want
    assert "v101_bowtie" in _tags(arcs_std_pd, got)


def test_v102_cluster_tolerance(arcs_std, arcs_std_pd):
    got = set(V.v102_cluster_tolerance(arcs_std).toPandas().flagged_id)
    def min_seg(vs):
        return np.sqrt(((vs[1:] - vs[:-1]) ** 2).sum(axis=1)).min()
    flag = arcs_std_pd.np_verts.map(
        lambda vs: len(vs) > 2 and min_seg(vs) < CLUSTER_TOLERANCE
    )
    want = set(arcs_std_pd.loc[flag, "segment_id"])
    assert got == want
    assert "v103_cluster" in _tags(arcs_std_pd, got)


def test_v201_duplicated(arcs_std, arcs_std_pd):
    got = set(V.v201_duplicated(arcs_std).toPandas().flagged_id)
    def canon(vs):
        f = ";".join(f"{x:.5f}:{y:.5f}" for x, y in vs)
        r = ";".join(f"{x:.5f}:{y:.5f}" for x, y in vs[::-1])
        return min(f, r)
    ck = arcs_std_pd.np_verts.map(canon)
    want = set(arcs_std_pd.loc[ck.duplicated(keep=False).values, "segment_id"])
    assert got == want
    assert {"dup_a", "dup_b", "dup_rev"} <= _tags(arcs_std_pd, got)


def _pairwise_flags(arcs_std_pd, kernel, exclude_equal=False):
    flagged = set()
    rows = list(arcs_std_pd[["segment_id", "np_verts"]].itertuples(index=False))
    def canon(vs):
        f = ";".join(f"{x:.5f}:{y:.5f}" for x, y in vs)
        r = ";".join(f"{x:.5f}:{y:.5f}" for x, y in vs[::-1])
        return min(f, r)
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            if exclude_equal and canon(a.np_verts) == canon(b.np_verts):
                continue
            # cheap bbox prefilter for speed
            if (a.np_verts[:, 0].max() < b.np_verts[:, 0].min()
                    or b.np_verts[:, 0].max() < a.np_verts[:, 0].min()
                    or a.np_verts[:, 1].max() < b.np_verts[:, 1].min()
                    or b.np_verts[:, 1].max() < a.np_verts[:, 1].min()):
                continue
            if kernel(a.np_verts, b.np_verts):
                flagged.add(a.segment_id)
                flagged.add(b.segment_id)
    return flagged


def test_v202_overlap(arcs_std, arcs_std_pd):
    got = set(V.v202_overlap(arcs_std).toPandas().flagged_id)
    want = _pairwise_flags(arcs_std_pd, GK.polylines_overlap, exclude_equal=True)
    assert got == want
    assert {"ovl_a", "ovl_b"} <= _tags(arcs_std_pd, got)


def test_v303_crosses(arcs_std, arcs_std_pd):
    got = set(V.v303_crosses(arcs_std).toPandas().flagged_id)
    want = _pairwise_flags(arcs_std_pd, GK.polylines_cross_shapely)
    assert got == want
    assert {"cross_a", "cross_b"} <= _tags(arcs_std_pd, got)


def test_v301_node_intersection(arcs_std, arcs_std_pd):
    got = set(V.v301_node_intersection(arcs_std).toPandas().flagged_id)
    # literal reference logic (validate_topology.py:235-272)
    pts_id = {}
    for r in arcs_std_pd.itertuples():
        for p in r.np_verts:
            pts_id.setdefault((round(p[0], 5), round(p[1], 5)), set()).add(r.segment_id)
    nodes = set()
    non_nodes = set()
    for r in arcs_std_pd.itertuples():
        vs = [(round(x, 5), round(y, 5)) for x, y in r.np_verts]
        nodes.update({vs[0], vs[-1]})
        if len(vs) > 2:
            non_nodes.update(vs[1:-1])
    invalid_pts = {p for p in nodes & non_nodes if len(pts_id[p]) > 1}
    want = set()
    for r in arcs_std_pd.itertuples():
        vs = [(round(x, 5), round(y, 5)) for x, y in r.np_verts]
        if len(vs) > 2 and set(vs[1:-1]) & invalid_pts:
            want.add(r.segment_id)
    assert got == want


def test_v302_min_distance(arcs_std, arcs_std_pd):
    got = set(V.v302_min_distance(arcs_std).toPandas().flagged_id)
    # literal reference logic with exact distances (validate_topology.py:174-233)
    cnt = {}
    rows = list(arcs_std_pd[["segment_id", "np_verts"]].itertuples(index=False))
    for r in rows:
        for p in (r.np_verts[0], r.np_verts[-1]):
            k = (round(p[0], 5), round(p[1], 5))
            cnt[k] = cnt.get(k, 0) + 1
    pts_id = {}
    for r in arcs_std_pd.itertuples():
        for p in r.np_verts:
            pts_id.setdefault((round(p[0], 5), round(p[1], 5)), set()).add(r.segment_id)
    want = set()
    for r in rows:
        for p in (r.np_verts[0], r.np_verts[-1]):
            k = (round(p[0], 5), round(p[1], 5))
            if cnt[k] != 1:
                continue
            near = {
                o.segment_id for o in rows
                if point_to_polyline_distance(p[0], p[1], o.np_verts) <= MIN_DISTANCE
            }
            epts = [(round(v[0], 5), round(v[1], 5)) for v in (r.np_verts[0], r.np_verts[-1])]
            connected = set().union(*(pts_id[e] for e in epts))
            disconnected = near - connected - {r.segment_id}
            if disconnected:
                want |= {r.segment_id, *disconnected}
    assert got == want
    assert "v102_close_deadend" in _tags(arcs_std_pd, got)


def test_validate_topology_flag_columns(arcs_std, arcs_std_pd):
    """All seven codes in one call: the pairwise columns equal both the
    brute-force oracles and the standalone validations."""
    try:
        out = V.validate_topology(arcs_std).toPandas()
    finally:
        V.validate_release()
    assert {f"v{c}" for c in V.VALIDATIONS} <= set(out.columns)
    def flagged(col):
        return set(out.loc[out[col] == 1, "segment_id"])
    overlap = _pairwise_flags(arcs_std_pd, GK.polylines_overlap, exclude_equal=True)
    assert flagged("v202") == overlap == set(V.v202_overlap(arcs_std).toPandas().flagged_id)
    cross = _pairwise_flags(arcs_std_pd, GK.polylines_cross_shapely)
    assert flagged("v303") == cross == set(V.v303_crosses(arcs_std).toPandas().flagged_id)


def test_validate_topology_shared_pair_refine(spark):
    """202 and 303 share one refine stage: a multi-vertex pair that both
    kernels flag gets both codes, and a reversed duplicate gets 201 but
    not 202 (shapely `overlaps` excludes equal geometries)."""
    arcs = spark.createDataFrame(pd.DataFrame({
        "segment_id": ["A", "B", "C", "D"],
        "vertices": [
            [[1000.0, 1000.0], [1004.0, 1000.0]],
            [[1001.0, 1000.0], [1002.0, 1000.0], [1002.0, 999.0], [1002.5, 1001.0]],
            [[1010.0, 1000.0], [1012.0, 1000.0]],
            [[1012.0, 1000.0], [1010.0, 1000.0]],
        ],
    }))
    try:
        out = V.validate_topology(arcs, codes=[201, 202, 303]).toPandas()
    finally:
        V.validate_release()
    got = {r.segment_id: (r.v201, r.v202, r.v303) for r in out.itertuples()}
    assert got == {"A": (0, 1, 1), "B": (0, 1, 1), "C": (1, 0, 0), "D": (1, 0, 0)}


# ---------------------------------------------------------------- distance ops
def test_point_to_arc_distance_join_bruteforce(spark, arcs_std, arcs_std_pd):
    rng = np.random.default_rng(5)
    # probe near crafted geometry (lattice units)
    pts = pd.DataFrame({
        "p_id": [str(i) for i in range(200)],
        "x": rng.uniform(0, 65536.0 * 0.5, 200),
        "y": rng.uniform(0, 65536.0 * 0.5, 200),
    })
    radius = 300.0
    got = (
        point_to_arc_distance_join(spark.createDataFrame(pts), arcs_std, radius)
        .toPandas()
    )
    got_pairs = set(zip(got.p_id, got.segment_id))
    want_pairs = set()
    for r in pts.itertuples():
        for o in arcs_std_pd.itertuples():
            d = point_to_polyline_distance(r.x, r.y, o.np_verts)
            if d <= radius:
                want_pairs.add((r.p_id, o.segment_id))
    assert got_pairs == want_pairs
    # distances exact
    for rec in got.itertuples():
        verts = arcs_std_pd.set_index("segment_id").loc[rec.segment_id, "np_verts"]
        assert rec.dist == pytest.approx(
            point_to_polyline_distance(rec.x, rec.y, verts), rel=1e-9
        )


def test_point_near_arc_pairs_res_independent(spark, arcs_std, arcs_std_pd):
    """The dilated-bbox covering makes the cell resolution a PURE
    performance knob: any res yields the same exact pair set (the old
    k-ring covering required cell_size >= radius for correctness — this
    pins the new one-sided coverage guarantee across coarse AND finer-
    than-radius cells)."""
    from egp_crn_spark.operators.distance import point_near_arc_pairs

    rng = np.random.default_rng(11)
    pts = pd.DataFrame({
        "p_id": [str(i) for i in range(120)],
        "x": rng.uniform(0, 65536.0 * 0.5, 120),
        "y": rng.uniform(0, 65536.0 * 0.5, 120),
    })
    radius = 300.0
    sets = {}
    for res in (5, 8, 11):
        got = point_near_arc_pairs(
            spark.createDataFrame(pts), arcs_std, radius, res=res
        ).select("p_id", "segment_id").distinct().toPandas()
        sets[res] = set(zip(got.p_id, got.segment_id))
    want = set()
    for r in pts.itertuples():
        for o in arcs_std_pd.itertuples():
            if point_to_polyline_distance(r.x, r.y, o.np_verts) <= radius:
                want.add((r.p_id, o.segment_id))
    assert sets[5] == sets[8] == sets[11] == want


def test_arc_within_network_distance(spark):
    net = pd.DataFrame({
        "segment_id": ["n1"],
        "vertices": [[[0.0, 0.0], [100.0, 0.0]]],
    })
    q = pd.DataFrame({
        "segment_id": ["inside", "straddle", "outside"],
        "vertices": [
            [[10.0, 1.0], [90.0, 1.0]],      # fully within 2.0
            [[10.0, 1.0], [90.0, 40.0]],     # leaves the corridor
            [[10.0, 50.0], [90.0, 50.0]],    # far away
        ],
    })
    got = arc_within_network_distance(
        spark.createDataFrame(q), spark.createDataFrame(net), radius=2.0
    ).toPandas().set_index("segment_id").within.to_dict()
    assert got == {"inside": True, "straddle": False, "outside": False}


# ---------------------------------------------------------------- snap
def test_snap_nodes(spark):
    nrn_id = "a" * 32
    df = pd.DataFrame(
        {
            "segment_id": ["r1", "g1", "g2", "b1"],
            "segment_id_orig": [nrn_id, "-1", "-1", "-1"],
            "segment_type": [1, 2, 2, 2],
            "boundary": [0, 0, 0, 1],
            "bo_new": [0, 1, 1, 1],
            "ngd_uid": [-1, 1, 2, 3],
            "structure_type": ["Unknown"] * 4,
            "vertices": [
                [[100.0, 100.0], [200.0, 100.0]],          # NRN road
                [[100.05, 100.03], [100.0, 200.0]],        # snaps (0.058 < 0.1)
                [[100.5, 100.0], [300.0, 300.0]],          # too far (0.5)
                [[100.005, 100.0], [50.0, 50.0]],          # boundary: 0.005 < 0.01
            ],
        }
    )
    out = SN.snap_nodes(spark.createDataFrame(df)).toPandas().set_index("segment_id")
    assert list(out.loc["g1", "vertices"][0]) == [100.0, 100.0]
    assert list(out.loc["g2", "vertices"][0]) == [100.5, 100.0]
    assert list(out.loc["b1", "vertices"][0]) == [100.0, 100.0]
    # NRN arc untouched
    assert list(out.loc["r1", "vertices"][0]) == [100.0, 100.0]


def test_snap_nodes_distance_tie(spark):
    """An NGD endpoint exactly as far from two NRN nodes snaps to the one
    with the smaller node key (nx, ny)."""
    assert 10.0 - 9.9375 == 10.0625 - 10.0 == 0.0625
    df = pd.DataFrame(
        {
            "segment_id": ["r1", "r2", "g1"],
            "segment_id_orig": ["a" * 32, "b" * 32, "-1"],
            "segment_type": [1, 1, 2],
            "boundary": [0, 0, 0],
            "bo_new": [0, 0, 1],
            "ngd_uid": [-1, -1, 1],
            "structure_type": ["Unknown"] * 3,
            "vertices": [
                [[10.0625, 4.0], [10.0625, 50.0]],
                [[9.9375, 4.0], [9.9375, 50.0]],
                [[10.0, 4.0], [30.0, 0.0]],
            ],
        }
    )
    out = SN.snap_nodes(spark.createDataFrame(df)).toPandas().set_index("segment_id")
    assert list(out.loc["g1", "vertices"][0]) == [9.9375, 4.0]
