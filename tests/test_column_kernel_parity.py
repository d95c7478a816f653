"""Pure-Column fast-path predicates must equal their numpy kernels.

validate.py resolves single-segment candidate pairs with Column algebra
(_seg_cross_col / _seg_overlap_col) while multi-vertex pairs go through
the numpy kernels (GK.segments_properly_intersect / the
segments_overlap twin in tests/twins.py).
Both paths claim IDENTICAL semantics — same EPS, same operation order.
This is the contract test: thousands of adversarial segment pairs
(random, collinear, touching, degenerate, shared-endpoint) evaluated
through BOTH paths must agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from egp_crn_spark.functions import geomkernel as GK
from egp_crn_spark.operators.validate import _seg_cross_col, _seg_overlap_col
from tests.twins import segments_overlap


def _pair_frame(spark, rng, n=4000):
    """Adversarial segment-pair population."""
    # random pairs in a small box (many near-misses)
    a = rng.uniform(0, 20, (n, 4))
    b = rng.uniform(0, 20, (n, 4))
    # collinear family: b lies on a's carrier line with random overlap
    m = n // 4
    t0 = rng.uniform(-1.5, 1.5, m)
    t1 = rng.uniform(-1.5, 1.5, m)
    d = a[:m, 2:] - a[:m, :2]
    b[:m, :2] = a[:m, :2] + t0[:, None] * d
    b[:m, 2:] = a[:m, :2] + t1[:, None] * d
    # shared-endpoint family (touch, not cross)
    b[m:2 * m, :2] = a[m:2 * m, 2:]
    # exact T-touch: b starts on a's midpoint
    b[2 * m:3 * m, :2] = (a[2 * m:3 * m, :2] + a[2 * m:3 * m, 2:]) / 2.0
    # degenerate zero-length a
    a[3 * m:3 * m + 50, 2:] = a[3 * m:3 * m + 50, :2]
    pdf = pd.DataFrame({
        "ax1": a[:, 0], "ay1": a[:, 1], "ax2": a[:, 2], "ay2": a[:, 3],
        "bx1": b[:, 0], "by1": b[:, 1], "bx2": b[:, 2], "by2": b[:, 3],
    })
    return pdf, spark.createDataFrame(pdf)


def _numpy_verdicts(pdf, kernel):
    p1 = pdf[["ax1", "ay1"]].to_numpy()
    p2 = pdf[["ax2", "ay2"]].to_numpy()
    q1 = pdf[["bx1", "by1"]].to_numpy()
    q2 = pdf[["bx2", "by2"]].to_numpy()
    return kernel(p1, p2, q1, q2)


def test_cross_column_matches_kernel(spark):
    rng = np.random.default_rng(1234)
    pdf, df = _pair_frame(spark, rng)
    got = df.select(_seg_cross_col().alias("v")).toPandas()["v"].to_numpy()
    want = _numpy_verdicts(pdf, GK.segments_properly_intersect)
    assert (got == want).all()
    assert want.any()  # population actually contains crossings


def test_overlap_column_matches_kernel(spark):
    rng = np.random.default_rng(4321)
    pdf, df = _pair_frame(spark, rng)
    got = df.select(_seg_overlap_col().alias("v")).toPandas()["v"].to_numpy()
    want = _numpy_verdicts(pdf, segments_overlap)
    assert (got == want).all()
    assert want.any()  # population actually contains collinear overlaps


def test_pair_candidates_never_carry_arrays(spark):
    """Regression guard for the round-3 column pruning: the candidate
    frame the cell self-join shuffles must hold NO array column."""
    from egp_crn_spark.operators.validate import _arc_candidate_pairs

    arcs = spark.createDataFrame(pd.DataFrame({
        "segment_id": ["a", "b"],
        "vertices": [[[0.0, 0.0], [10.0, 0.0]], [[5.0, -5.0], [5.0, 5.0]]],
    }))
    cand = _arc_candidate_pairs(arcs, 10, "segment_id", "vertices",
                                with_checksum=True)
    assert all(not str(f.dataType).lower().startswith("array")
               for f in cand.schema.fields), cand.schema.simpleString()
    rows = cand.collect()
    assert len(rows) == 1  # the planted crossing pair survives prefilter
