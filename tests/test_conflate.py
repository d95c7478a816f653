"""Conflation flagship vs a pandas oracle that mirrors the reference
classification (conflate_meshblock.py:119-155) literally."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from egp_crn_spark.config import EXTENT
from egp_crn_spark.operators import conflate as CF


def _oracle_classify(pairs: pd.DataFrame, crn_ids, ngd_ids, threshold=0.8):
    """Literal re-expression of the reference's dict/set logic."""
    valid_pairs = pairs[pairs.occupation_area >= threshold]
    valid_ngd = set(valid_pairs.ngd_id)
    # crn: best valid pair by (occupation desc, ngd_id asc)
    bv = valid_pairs.sort_values(["crn_id", "occupation_area", "ngd_id"],
                                 ascending=[True, False, True]).drop_duplicates("crn_id")
    crn_match = dict(zip(bv.crn_id, bv.ngd_id))
    max_occ_crn = pairs.groupby("crn_id").occupation_area.max()
    max_occ_ngd = pairs.groupby("ngd_id").occupation_area.max()
    crn_rows = []
    for cid in crn_ids:
        valid = cid in crn_match
        pct = -1 if valid else int(np.floor(max_occ_crn.get(cid, np.nan) * 100)) if cid in max_occ_crn.index else -1
        crn_rows.append((cid, valid, pct, crn_match.get(cid, -1)))
    ngd_rows = []
    for nid in ngd_ids:
        valid = nid in valid_ngd
        pct = -1 if valid else int(np.floor(max_occ_ngd.get(nid, np.nan) * 100)) if nid in max_occ_ngd.index else -1
        ngd_rows.append((nid, valid, pct))
    return (
        pd.DataFrame(crn_rows, columns=["crn_id", "valid", "occupation_pct", "bb_uid"]),
        pd.DataFrame(ngd_rows, columns=["ngd_id", "valid", "occupation_pct"]),
    )


@pytest.fixture(scope="module")
def rect_inputs():
    # crn: fine 16x16 grid; ngd: coarse 4x4 grid shifted by 30% of a fine
    # cell → boundary faces split across blocks (invalid), interior valid
    fine, coarse = 16, 4
    fc, cc = EXTENT / fine, EXTENT / coarse
    shift = 0.3 * fc
    crn = pd.DataFrame(
        [
            {"crn_id": i * fine + j + 1, "xmin": i * fc, "ymin": j * fc,
             "xmax": (i + 1) * fc, "ymax": (j + 1) * fc}
            for i in range(fine) for j in range(fine)
        ]
    )
    ngd = pd.DataFrame(
        [
            {"ngd_id": i * coarse + j + 1, "xmin": i * cc + shift, "ymin": j * cc + shift,
             "xmax": (i + 1) * cc + shift, "ymax": (j + 1) * cc + shift}
            for i in range(coarse) for j in range(coarse)
        ]
    )
    return crn, ngd


def _bruteforce_pairs(crn, ngd):
    rows = []
    for _, a in crn.iterrows():
        area = (a.xmax - a.xmin) * (a.ymax - a.ymin)
        for _, b in ngd.iterrows():
            w = min(a.xmax, b.xmax) - max(a.xmin, b.xmin)
            h = min(a.ymax, b.ymax) - max(a.ymin, b.ymin)
            if w >= 0 and h >= 0:
                rows.append((a.crn_id, b.ngd_id, max(w, 0) * max(h, 0) / area))
    return pd.DataFrame(rows, columns=["crn_id", "ngd_id", "occupation_area"])


def test_conflate_rect_flagship(spark, rect_inputs):
    crn, ngd = rect_inputs
    pairs = CF.conflate_pairs_rect(
        spark.createDataFrame(crn), spark.createDataFrame(ngd), res=5
    )
    crn_out, ngd_out, metrics = CF.classify_conflation(
        pairs,
        spark.createDataFrame(crn[["crn_id"]]),
        spark.createDataFrame(ngd[["ngd_id"]]),
    )
    got_crn = crn_out.toPandas().sort_values("crn_id").reset_index(drop=True)
    got_ngd = ngd_out.toPandas().sort_values("ngd_id").reset_index(drop=True)
    want_crn, want_ngd = _oracle_classify(
        _bruteforce_pairs(crn, ngd), crn.crn_id.tolist(), ngd.ngd_id.tolist()
    )
    pd.testing.assert_frame_equal(got_crn.astype({"occupation_pct": int, "bb_uid": int}),
                                  want_crn.astype({"occupation_pct": int, "bb_uid": int}),
                                  check_dtype=False)
    pd.testing.assert_frame_equal(got_ngd.astype({"occupation_pct": int}),
                                  want_ngd.astype({"occupation_pct": int}), check_dtype=False)
    m = metrics.first()
    assert m.invalid_crn == (~want_crn.valid).sum()
    assert m.invalid_ngd == (~want_ngd.valid).sum()
    assert m.invalid_total == m.invalid_crn + m.invalid_ngd
    # sanity: the shifted-grid setup must produce both valid and invalid
    assert want_crn.valid.any() and (~want_crn.valid).any()


def test_conflate_convex_matches_rect_path(spark, rect_inputs):
    """Rectangles expressed as 4-vertex convex polys through the general
    numpy-clip path must reproduce the pure-Column rect path."""
    crn, ngd = rect_inputs
    to_poly = lambda df, idc: pd.DataFrame(  # noqa: E731
        {
            idc: df[idc if idc in df else "crn_id"],
            "vertices": [
                [[r.xmin, r.ymin], [r.xmax, r.ymin], [r.xmax, r.ymax], [r.xmin, r.ymax]]
                for r in df.itertuples()
            ],
        }
    )
    pairs_general = CF.conflate_pairs_convex(
        spark.createDataFrame(to_poly(crn, "crn_id")),
        spark.createDataFrame(to_poly(ngd, "ngd_id")),
        res=5,
    ).toPandas()
    want = _bruteforce_pairs(crn, ngd)
    got = pairs_general.sort_values(["crn_id", "ngd_id"]).reset_index(drop=True)
    want = want.sort_values(["crn_id", "ngd_id"]).reset_index(drop=True)
    assert len(got) == len(want)
    np.testing.assert_allclose(got.occupation_area.values, want.occupation_area.values,
                               rtol=1e-9, atol=1e-12)


def test_conflate_voronoi_boundaries(spark, fixtures_dir):
    """General path on the jittered-Voronoi fixture polygons vs numpy clip
    brute force."""
    from egp_crn_spark.functions import geomkernel as GK

    bnd = pd.read_parquet(f"{fixtures_dir}/boundaries.parquet")
    # crn = a 8x8 grid of rect polys; ngd = the 16 jittered quads
    fine = 8
    fc = EXTENT / fine
    crn = pd.DataFrame(
        {
            "crn_id": np.arange(1, fine * fine + 1, dtype=np.int64),
            "vertices": [
                [[i * fc, j * fc], [(i + 1) * fc, j * fc], [(i + 1) * fc, (j + 1) * fc],
                 [i * fc, (j + 1) * fc]]
                for i in range(fine) for j in range(fine)
            ],
        }
    )
    ngd = bnd.rename(columns={"bb_uid": "ngd_id"})
    got = (
        CF.conflate_pairs_convex(spark.createDataFrame(crn), spark.createDataFrame(ngd), res=5)
        .toPandas()
        .sort_values(["crn_id", "ngd_id"])
        .reset_index(drop=True)
    )
    rows = []
    for rc in crn.itertuples():
        s = np.array(rc.vertices)
        area = GK.polygon_area(s)
        for rn in ngd.itertuples():
            c = np.array([list(p) for p in rn.vertices])
            bb_disjoint = (
                s[:, 0].max() < c[:, 0].min() or c[:, 0].max() < s[:, 0].min()
                or s[:, 1].max() < c[:, 1].min() or c[:, 1].max() < s[:, 1].min()
            )
            if bb_disjoint:
                continue
            rows.append((rc.crn_id, rn.ngd_id, GK.convex_clip_area(s, c) / area))
    want = pd.DataFrame(rows, columns=["crn_id", "ngd_id", "occupation_area"]).sort_values(
        ["crn_id", "ngd_id"]
    ).reset_index(drop=True)
    assert len(got) == len(want)
    np.testing.assert_allclose(got.occupation_area.values, want.occupation_area.values,
                               rtol=1e-9, atol=1e-12)
    # occupation of each crn face sums to ~1 (boundaries partition the domain)
    sums = got.groupby("crn_id").occupation_area.sum()
    np.testing.assert_allclose(sums.values, 1.0, rtol=1e-6)
