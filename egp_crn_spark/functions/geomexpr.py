"""Geometry as data: pure Column expressions over vertex arrays.

Geometries live in DataFrames as ``array<array<double>>`` vertex lists
(never driver-side geometry objects — the reference's per-row shapely
pattern, e.g. /root/reference/src/helpers.py:327-333, is exactly what this
replaces). Everything in this module stays inside Catalyst / whole-stage
codegen: higher-order array functions, no Python.

Reference parity notes per function cite the geopandas/shapely idiom being
re-expressed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import COORD_DECIMALS


def pt(x, y) -> Column:
    return F.array(F.lit(x) if not isinstance(x, Column) else x,
                   F.lit(y) if not isinstance(y, Column) else y)


def px(p: Column) -> Column:
    """x of an [x, y] point array."""
    return F.element_at(p, 1)


def py(p: Column) -> Column:
    return F.element_at(p, 2)


def require_xy(df: DataFrame, vertices: str, what: str) -> DataFrame:
    """``df`` with its ``vertices`` column guarded: a row with a vertex
    that is not exactly ``[x, y]`` raises ``"<what> <vertices>: ..."``.

    Column prefilters read every vertex's y with ANSI ``element_at``
    (``bbox``, ``py``, node keys on endpoints), which on an ``[x]``
    vertex fails with INVALID_ARRAY_INDEX_IN_ELEMENT_AT and no column
    name. Operators whose prefilter runs before any kernel apply this
    first; null geometries and null vertices pass through to the
    kernel's ``geomkernel.vertex_array`` checks."""
    v = F.col(vertices)
    return df.withColumn(vertices, F.when(
        F.exists(v, lambda p: F.size(p) != 2),
        F.raise_error(F.lit(f"{what} {vertices}: a vertex is not [x, y]")),
    ).otherwise(v))


def start_point(vertices: Column) -> Column:
    """First vertex — reference `itemgetter(0)` over coords
    (validate_topology.py:126-128)."""
    return F.element_at(vertices, 1)


def end_point(vertices: Column) -> Column:
    """Last vertex — reference `itemgetter(-1)`."""
    return F.element_at(vertices, -1)


def round_vertices(vertices: Column, decimals: int = COORD_DECIMALS) -> Column:
    """Round every coordinate — reference 5-decimal normalization before
    node equality (helpers.py:306-342)."""
    return F.transform(
        vertices, lambda p: F.array(F.round(F.element_at(p, 1), decimals),
                                    F.round(F.element_at(p, 2), decimals))
    )


def dedup_adjacent_vertices(vertices: Column) -> Column:
    """Drop vertices equal to their predecessor — reference adjacent-dup
    collapse after rounding (helpers.py:306-342). Pure higher-order filter."""
    return F.filter(vertices, lambda p, i: (i == 0) | (p != F.element_at(vertices, i)))


def segment_pairs(vertices: Column) -> Column:
    """array<struct<a,b>> of consecutive vertex pairs — reference
    `ordered_pairs` tee/zip idiom (validate_topology.py:29-41)."""
    n = F.size(vertices)
    return F.zip_with(
        F.slice(vertices, 1, n - 1),
        F.slice(vertices, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def seg_length(a: Column, b: Column) -> Column:
    dx = px(a) - px(b)
    dy = py(a) - py(b)
    return F.sqrt(dx * dx + dy * dy)


def line_length(vertices: Column) -> Column:
    """Polyline length — reference `.length` (helpers.py:484) as a built-in
    higher-order aggregate (no UDF)."""
    return F.aggregate(
        segment_pairs(vertices),
        F.lit(0.0),
        lambda acc, s: acc + seg_length(s["a"], s["b"]),
    )


def min_segment_length(vertices: Column) -> Column:
    """Shortest inter-vertex distance — drives the cluster-tolerance
    validation 103 (validate_topology.py:296-326, tolerance 0.01)."""
    return F.array_min(F.transform(segment_pairs(vertices), lambda s: seg_length(s["a"], s["b"])))


def ring_area(vertices: Column) -> Column:
    """Shoelace area of a closed ring (first vertex == last, or treated
    cyclically) — reference `.area` (conflate_meshblock.py:117)."""
    n = F.size(vertices)
    cross = F.zip_with(
        F.slice(vertices, 1, n - 1),
        F.slice(vertices, 2, n - 1),
        lambda a, b: px(a) * py(b) - px(b) * py(a),
    )
    closing = px(end_point(vertices)) * py(start_point(vertices)) - px(
        start_point(vertices)
    ) * py(end_point(vertices))
    return F.abs(F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v) + closing) / 2.0


def bbox(vertices: Column) -> Column:
    """struct<xmin,ymin,xmax,ymax> of a vertex array."""
    xs = F.transform(vertices, px)
    ys = F.transform(vertices, py)
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


def _canonical_geom_string(vertices: Column, decimals: int = COORD_DECIMALS) -> Column:
    """Canonical orientation string of a rounded vertex array: the
    lexicographically smaller of the forward/reverse renderings —
    direction-insensitive geometry identity at ``decimals`` precision.

    Rounding rule (the same as ``nodes.node_key``): Spark's ``round``
    rounds HALF_UP on the double's shortest decimal form (the digits
    ``repr`` prints), not on its exact binary value. Python's ``round``
    and ``format(x, ".5f")`` round the exact binary value, so an oracle
    built on them picks the other neighbour on some exact 5-decimal
    ties (0.000155, 1000.000305, ...); ``Decimal(repr(x))`` quantized
    ROUND_HALF_UP reproduces this rule."""
    rounded = round_vertices(vertices, decimals)
    fmt = lambda vs: F.array_join(  # noqa: E731
        F.transform(
            vs,
            lambda p: F.concat_ws(
                ":",
                F.format_string(f"%.{decimals}f", F.element_at(p, 1)),
                F.format_string(f"%.{decimals}f", F.element_at(p, 2)),
            ),
        ),
        ";",
    )
    return F.least(fmt(rounded), fmt(F.reverse(rounded)))


def geom_checksum(vertices: Column, decimals: int = COORD_DECIMALS) -> Column:
    """Direction-insensitive checksum of a rounded vertex array.

    Replaces the reference's O(n^2) pairwise `equals` duplicate-geometry
    test (validate_topology.py:347-371) with a hash equi-join: canonical
    orientation = lexicographically smaller of forward/reverse vertex
    string; md5 for a compact PRINTABLE key (oracle twins reproduce it
    in SQL, and standardize's id repair sorts on it). For internal
    equality-only joins prefer geom_checksum128 — half the shuffle bytes.
    Coordinates round HALF_UP on their shortest decimal form (see
    ``_canonical_geom_string``), so Python ``round``/``format`` oracles
    differ from it on exact 5-decimal ties.
    """
    return F.md5(_canonical_geom_string(vertices, decimals))


def geom_checksum128(vertices: Column, decimals: int = COORD_DECIMALS) -> Column:
    """128-bit equality-only geometry key: two seeded xxhash64 of the
    canonical orientation of the ROUNDED VERTEX ARRAY itself — no
    canonical string is ever built (xxhash64 hashes nested arrays
    natively; the per-arc format-and-concat of the string form was the
    measured cost: this form ran the 2M-arc duplicate aggregation 2.8x
    faster). Direction insensitivity comes from hashing whichever of
    forward/reverse compares lexicographically smaller ON THE ARRAY —
    a different canonical-side rule than the md5 string form, but any
    deterministic rule yields the same EQUALITY CLASSES (canon(X) ==
    canon(Y) iff X == Y or X == reverse(Y)), which is all an
    equality-only key means. NOT printable, NOT order-stable, and NOT
    comparable with geom_checksum values: internal joins only (the
    standardize id-repair sort stays on the md5 string).
    """
    rounded = F.transform(
        vertices, lambda p: F.transform(p, lambda c: F.round(c, decimals)))
    rev = F.reverse(rounded)
    canon = F.when(rounded <= rev, rounded).otherwise(rev)
    return F.struct(F.xxhash64(canon).alias("h1"),
                    F.xxhash64(canon, F.lit(1)).alias("h2"))


def rect_overlap_area(
    axmin: Column, aymin: Column, axmax: Column, aymax: Column,
    bxmin: Column, bymin: Column, bxmax: Column, bymax: Column,
) -> Column:
    """Exact intersection area of two axis-aligned rectangles — the pure
    Column fast path of the conflation occupation computation
    (conflate_meshblock.py:115-117); general convex polygons use the
    numpy clip kernel (functions/geomkernel.py)."""
    w = F.greatest(F.least(axmax, bxmax) - F.greatest(axmin, bxmin), F.lit(0.0))
    h = F.greatest(F.least(aymax, bymax) - F.greatest(aymin, bymin), F.lit(0.0))
    return w * h
