from __future__ import annotations

import numpy as np
import pytest

from egp_crn_spark.functions.polygonize_kernel import (face_checksum,
                                                       polygonize_segments,
                                                       polygonize_vertex_arrays)


def _areas(faces):
    out = []
    for f in faces:
        x, y = f[:, 0], f[:, 1]
        out.append(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2)
    return sorted(out)


def test_single_square():
    segs = [((0, 0), (1, 0)), ((1, 0), (1, 1)), ((1, 1), (0, 1)), ((0, 1), (0, 0))]
    faces = polygonize_segments(segs)
    assert len(faces) == 1
    assert _areas(faces) == [pytest.approx(1.0)]


def test_two_cells_shared_wall():
    # 2x1 grid: three vertical walls + top/bottom
    segs = []
    for x in (0, 1, 2):
        segs.append(((x, 0), (x, 1)))
    for x0 in (0, 1):
        segs.append(((x0, 0), (x0 + 1, 0)))
        segs.append(((x0, 1), (x0 + 1, 1)))
    faces = polygonize_segments(segs)
    assert len(faces) == 2
    assert _areas(faces) == [pytest.approx(1.0), pytest.approx(1.0)]


def test_dangles_ignored():
    segs = [((0, 0), (1, 0)), ((1, 0), (1, 1)), ((1, 1), (0, 1)), ((0, 1), (0, 0)),
            ((1, 1), (2, 2)), ((2, 2), (3, 2))]  # dangling tail
    faces = polygonize_segments(segs)
    assert len(faces) == 1


def test_nested_grid_3x3():
    segs = []
    for i in range(4):
        for j in range(3):
            segs.append(((i, j), (i, j + 1)))  # vertical
            segs.append(((j, i), (j + 1, i)))  # horizontal
    faces = polygonize_segments(segs)
    assert len(faces) == 9
    assert all(a == pytest.approx(1.0) for a in _areas(faces))


def test_polylines_input_and_checksum():
    sq1 = [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]
    faces = polygonize_vertex_arrays([sq1])
    assert len(faces) == 1
    # checksum invariant to rotation/direction
    f = faces[0]
    rolled = np.roll(f, 2, axis=0)
    assert face_checksum(f) == face_checksum(rolled)
    assert face_checksum(f) == face_checksum(f[::-1])


def test_open_lines_no_face():
    assert polygonize_vertex_arrays([[[0, 0], [1, 0], [2, 0]]]) == []


def test_assign_holes_island():
    from egp_crn_spark.functions.polygonize_kernel import (assign_holes,
                                                           polygonize_segments)

    def ring_segs(x0, y0, s):
        c = [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s)]
        return [(c[i], c[(i + 1) % 4]) for i in range(4)]

    segs = ring_segs(0, 0, 100) + ring_segs(40, 40, 20)  # island inside
    faces = assign_holes(polygonize_segments(segs))
    by_area = sorted(faces, key=lambda fh: -len(fh[0]))
    areas = sorted(
        abs(np.dot(f[:, 0], np.roll(f[:, 1], -1)) - np.dot(f[:, 1], np.roll(f[:, 0], -1))) / 2
        for f, _ in faces
    )
    assert areas == [400.0, 10000.0]
    outer = max(faces, key=lambda fh: len(fh[1]))
    assert len(outer[1]) == 1  # island attached as hole of the outer face
    inner = min(faces, key=lambda fh: len(fh[1]))
    assert len(inner[1]) == 0  # island face itself is hole-free


def test_adjacent_faces_not_nested():
    from egp_crn_spark.functions.polygonize_kernel import (assign_holes,
                                                           polygonize_segments)

    # two cells sharing a wall: tiling, NOT nesting (shared nodes)
    segs = [((0, 0), (1, 0)), ((1, 0), (2, 0)), ((2, 0), (2, 1)), ((2, 1), (1, 1)),
            ((1, 1), (0, 1)), ((0, 1), (0, 0)), ((1, 0), (1, 1))]
    faces = assign_holes(polygonize_segments(segs))
    assert len(faces) == 2
    assert all(len(h) == 0 for _, h in faces)


def test_polyline_within_polygon_concave_exactness():
    from egp_crn_spark.functions import geomkernel as GK

    # U-shaped face with a narrow notch x in [140, 160], y in [100, 300]
    shell = np.array([(0, 0), (300, 0), (300, 300), (160, 300), (160, 100),
                      (140, 100), (140, 300), (0, 300)], dtype=np.float64)
    # all samples (vertices + midpoint) inside, but the segment exits
    # through the notch — only the proper-crossing test catches it
    line = np.array([(100, 200), (280, 200)], dtype=np.float64)
    assert not GK.polyline_within_polygon(line, shell)
    # fully inside the bottom bar
    assert GK.polyline_within_polygon(
        np.array([(50, 50), (250, 50)], dtype=np.float64), shell)
    # hole exclusion
    hole = np.array([(40, 20), (60, 20), (60, 40), (40, 40)], dtype=np.float64)
    assert not GK.polyline_within_polygon(
        np.array([(45, 25), (55, 35)], dtype=np.float64), shell, [hole])


def test_polyline_within_polygon_boundary_inclusive():
    """A deadend stub hanging off a ring node (junction on the face
    boundary) is WITHIN the face — shapely semantics; the bare ray-cast
    excludes right/top edges and corners, so boundary inclusion must be
    explicit (and direction-independent)."""
    from egp_crn_spark.functions import geomkernel as GK

    shell = np.array([(4000, 4000), (5000, 4000), (5000, 5000), (4000, 5000)],
                     dtype=np.float64)
    for corner in [(4000, 4000), (5000, 4000), (5000, 5000), (4000, 5000)]:
        inward = np.sign(np.array([4500, 4500]) - np.array(corner, dtype=float))
        stub = np.array([corner, np.array(corner) + 100 * inward], dtype=np.float64)
        assert GK.polyline_within_polygon(stub, shell), corner
        outward = np.array([corner, np.array(corner) - 100 * inward], dtype=np.float64)
        assert not GK.polyline_within_polygon(outward, shell), corner
    # stub from an edge midpoint node inward / outward
    assert GK.polyline_within_polygon(
        np.array([(4500, 5000), (4500, 4900)], dtype=np.float64), shell)
    assert not GK.polyline_within_polygon(
        np.array([(4500, 5000), (4500, 5100)], dtype=np.float64), shell)
