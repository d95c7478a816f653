"""Douglas–Peucker generalization: kernel guarantees + operator shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from egp_crn_spark.functions.geomkernel import simplify_dp
from egp_crn_spark.operators.generalize import (generalize_levels,
                                                simplify_lines,
                                                zoom_tolerance)
from tests.twins import point_to_polyline_distance


def _noisy_line(n=200, seed=0):
    rng = np.random.default_rng(seed)
    x = np.linspace(0.0, 1000.0, n)
    y = 100.0 * np.sin(x / 120.0) + rng.normal(0.0, 2.0, n)
    return np.column_stack([x, y])


def test_dp_deviation_bound_and_endpoints():
    line = _noisy_line()
    for tol in (0.5, 5.0, 50.0):
        simp = simplify_dp(line, tol)
        assert (simp[0] == line[0]).all() and (simp[-1] == line[-1]).all()
        assert len(simp) <= len(line)
        # classic DP guarantee: every original vertex within tol of the
        # simplified chain
        for p in line:
            assert point_to_polyline_distance(p[0], p[1], simp) <= tol + 1e-9
    # monotone: larger tolerance never keeps more vertices
    sizes = [len(simplify_dp(line, t)) for t in (0.5, 5.0, 50.0)]
    assert sizes == sorted(sizes, reverse=True)


def test_dp_collinear_and_degenerate():
    col = np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [5.0, 5.0],
                    [6.0, 6.0]])
    assert (simplify_dp(col, 0.0) == np.array([[0.0, 0.0],
                                               [6.0, 6.0]])).all()
    bent = np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]])
    assert (simplify_dp(bent, 0.5) == bent).all()
    assert len(simplify_dp(bent[:2], 0.0)) == 2
    # closed ring (coincident endpoints): degenerate chord path
    ring = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
                     [0.0, 0.0]])
    simp = simplify_dp(ring, 1.0)
    assert len(simp) >= 4 and (simp[0] == simp[-1]).all()


def test_simplify_lines_operator(spark):
    rows = [(i, [[float(x), float(y)] for x, y in _noisy_line(80, i)])
            for i in range(40)]
    arcs = spark.createDataFrame(
        rows, "arc_id int, vertices array<array<double>>")
    out = simplify_lines(arcs, tol=5.0).toPandas().set_index("arc_id")
    assert set(out.index) == set(range(40))
    for i in range(40):
        orig = _noisy_line(80, i)
        simp = np.array([[p[0], p[1]] for p in out.loc[i, "vertices"]])
        assert 2 <= len(simp) < 80
        assert (simp[0] == orig[0]).all() and (simp[-1] == orig[-1]).all()
        for p in orig:
            assert point_to_polyline_distance(p[0], p[1], simp) <= 5.0 + 1e-9


def test_generalize_levels_vertex_budget(spark):
    rows = [(i, [[float(x), float(y)] for x, y in _noisy_line(120, i)])
            for i in range(10)]
    arcs = spark.createDataFrame(
        rows, "arc_id int, vertices array<array<double>>")
    levels = generalize_levels(arcs, reses=[4, 7, 10]).toPandas()
    counts = (levels.assign(n=levels["vertices"].map(len))
              .groupby("res")["n"].sum().to_dict())
    # coarser zoom (bigger tolerance) keeps at most as many vertices
    assert counts[4] <= counts[7] <= counts[10]
    assert zoom_tolerance(4) > zoom_tolerance(7) > zoom_tolerance(10)
