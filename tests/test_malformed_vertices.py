"""Adversarial battery: every operator that decodes vertices through
``geomkernel.vertex_array`` raises on malformed geometry, and the error
names the vertex column.

Each operator gets a valid input with ONE geometry made malformed:

- ``short``: every vertex of the row is ``[x]`` (decoded by a bare
  comprehension, that was an (n, 1) array);
- ``wide``: every vertex is ``[x, y, 0]`` (an (n, 3) array);
- ``null_vertex``: vertex 1 is null;
- ``null_coord``: vertex 1 is ``[x, null]`` (Arrow hands NaN to pandas).

Operators whose Column prefilter reads every vertex's y coordinate
before any kernel runs (bounding boxes, endpoint node keys) meet a
``short`` or ``wide`` row in Spark first, at ``geomexpr.require_xy``,
which names the column too.
"""

from __future__ import annotations

import pytest

from egp_crn_spark.operators import conflate as CF
from egp_crn_spark.operators import meshblock as MB
from egp_crn_spark.operators import validate as V
from egp_crn_spark.operators.generalize import generalize_levels, simplify_lines
from egp_crn_spark.operators.segment import split_lines_at_points
from egp_crn_spark.operators.snapsuggest import snapsuggest_release, suggested_snapping
from egp_crn_spark.operators.spatial_join import point_in_polygon_join

MALFORM = {
    "short": lambda vs: [[x] for x, _ in vs],
    "wide": lambda vs: [[x, y, 0.0] for x, y in vs],
    "null_vertex": lambda vs: vs[:1] + [None] + vs[2:],
    "null_coord": lambda vs: vs[:1] + [[vs[1][0], None]] + vs[2:],
}

LINE = [[100.0, 100.0], [150.0, 120.0], [200.0, 100.0], [250.0, 130.0]]
SQUARE = [[100.0, 100.0], [300.0, 100.0], [300.0, 300.0], [100.0, 300.0]]
GEOM = "segment_id string, geom array<array<double>>"


def _arcs(spark, bad):
    """A malformed 4-vertex arc next to a valid arc crossing it."""
    return spark.createDataFrame(
        [("a", bad(LINE)), ("b", [[100.0, 110.0], [250.0, 110.0]])], GEOM)


def _v101(spark, bad):
    return V.v101_simple(_arcs(spark, bad), vertices="geom")


def _v202(spark, bad):
    return V.v202_overlap(_arcs(spark, bad), vertices="geom")


def _v303(spark, bad):
    return V.v303_crosses(_arcs(spark, bad), vertices="geom")


def _conflate_convex(spark, bad):
    ngd = [[200.0, 200.0], [400.0, 200.0], [400.0, 400.0], [200.0, 400.0]]
    crn = spark.createDataFrame([(1, bad(SQUARE))],
                                "crn_id long, vertices array<array<double>>")
    ngd = spark.createDataFrame([(7, ngd)], "ngd_id long, vertices array<array<double>>")
    return CF.conflate_pairs_convex(crn, ngd, res=5)


def _pip(spark, bad):
    pts = spark.createDataFrame([(1, 150.0, 150.0), (2, 250.0, 280.0)],
                                "p_id long, x double, y double")
    polys = spark.createDataFrame([(3, bad(SQUARE))],
                                  "poly_id long, vertices array<array<double>>")
    return point_in_polygon_join(pts, polys, res=6)


def _ring_arcs(spark, bad):
    """A closed 200x200 ring of four arcs; the first has interior vertices."""
    first = [[100.0, 100.0], [150.0, 100.0], [200.0, 100.0], [300.0, 100.0]]
    rows = [("r0", bad(first)), ("r1", [[300.0, 100.0], [300.0, 300.0]]),
            ("r2", [[300.0, 300.0], [100.0, 300.0]]),
            ("r3", [[100.0, 300.0], [100.0, 100.0]])]
    return spark.createDataFrame(rows, "segment_id string, vertices array<array<double>>")


def _polygonize(spark, bad):
    return MB.polygonize_meshblock(_ring_arcs(spark, bad), tile_res=4)


def _v201_within(spark, bad):
    arcs = spark.createDataFrame([("d0", [[150.0, 150.0], [160.0, 170.0]])],
                                 "segment_id string, vertices array<array<double>>")
    faces = spark.createDataFrame(
        [("f0", bad(SQUARE))], "face_id string, vertices array<array<double>>")
    return MB.mb_v201_deadend_within(arcs, faces)


def _split(spark, bad):
    lines = spark.createDataFrame([("l0", bad(LINE))],
                                  "line_id string, geom array<array<double>>")
    cuts = spark.createDataFrame([("l0", 175.0, 110.0)], "line_id string, x double, y double")
    return split_lines_at_points(lines, cuts, vertices="geom")


def _snapping(spark, bad):
    road = [[0.0, 0.0], [20.0, 0.0], [60.0, 0.0], [100.0, 0.0]]
    rows = [("r1", 1, 0, bad(road)), ("bo2", 2, 1, [[50.0, 10.0], [50.0, 600.0]])]
    arcs = spark.createDataFrame(
        rows, "segment_id string, segment_type int, bo_new int, geom array<array<double>>")
    return suggested_snapping(arcs, radius=20.0, vertices="geom")


def _simplify(spark, bad):
    return simplify_lines(_arcs(spark, bad), 1.0, vertices_col="geom")


def _generalize(spark, bad):
    return generalize_levels(_arcs(spark, bad), [4, 7], vertices_col="geom")


# operator -> (input with one malformed geometry, vertex column)
OPERATORS = {
    "v101_simple": (_v101, "geom"),
    "v202_overlap": (_v202, "geom"),
    "v303_crosses": (_v303, "geom"),
    "conflate_pairs_convex": (_conflate_convex, "vertices"),
    "point_in_polygon_join": (_pip, "vertices"),
    "polygonize_meshblock": (_polygonize, "vertices"),
    "mb_v201_deadend_within": (_v201_within, "vertices"),
    "split_lines_at_points": (_split, "geom"),
    "suggested_snapping": (_snapping, "geom"),
    "simplify_lines": (_simplify, "geom"),
    "generalize_levels": (_generalize, "geom"),
}


@pytest.mark.parametrize("case", sorted(MALFORM))
@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_malformed_vertex_raises_naming_column(spark, op, case):
    build, column = OPERATORS[op]
    try:
        with pytest.raises(Exception) as err:
            build(spark, MALFORM[case]).collect()
    finally:
        snapsuggest_release()
    text = _error_text(err.value)
    assert f"{column}: " in text, text[-2000:]


def _error_text(exc: BaseException) -> str:
    """The whole error: PySpark's text plus the message of every Java
    throwable in the cause chain. The Python worker's traceback (the
    ``ValueError`` naming the column) rides the chain's
    ``org.apache.spark.api.python.PythonException``, and survives there
    when the Py4J text is cut to ``"Job aborted due to stage ..."``."""
    parts = [str(exc)]
    jexc = getattr(exc, "java_exception", None) or getattr(exc, "_origin", None)
    while jexc is not None:
        parts.append(str(jexc.toString()))
        jexc = jexc.getCause()
    return "\n".join(parts)
