"""Vectorized numpy geometry kernels — the exact-refinement layer.

These run ONLY inside Arrow-batched pandas UDFs / applyInPandas, after a
Morton-cell equi-join prefilter has reduced candidates (SURVEY.md §2.3).
They replace the reference's shapely predicates (`intersects`, `within`,
`crosses`, `overlaps`, `is_simple`, `intersection().area`, linear
referencing — /root/reference/src/topology/validate_topology.py and
src/helpers.py) with dependency-free numpy implementations, since the
sandbox has no shapely/GEOS.

Conventions: a polygon is an (n, 2) float array of ring vertices in any
orientation, NOT closed (last != first); a polyline is an (n, 2) array.
``vertex_array`` is the one decode from an ``array<array<double>>``
value to that form; callers never unpack vertices themselves, and write
results back with ``ndarray.tolist()``.
"""

from __future__ import annotations

import numpy as np

EPS = 1e-9


# ---------------------------------------------------------------- decode
def vertex_array(vs, what: str) -> np.ndarray:
    """One ``array<array<double>>`` value (a list, or the object ndarray
    Arrow hands a pandas UDF) as an (n, 2) float64 array; an empty value
    is (0, 2). Raises ValueError naming ``what`` (operator and column)
    on a null value, a null vertex, a vertex that is not exactly
    ``[x, y]`` (ragged rows included) and a null or NaN coordinate —
    Arrow turns a null double inside a list into NaN."""
    if vs is None:
        raise ValueError(f"{what}: null geometry")
    rows = vs.tolist() if isinstance(vs, np.ndarray) else list(vs)
    if not rows:
        return np.empty((0, 2), dtype=np.float64)
    try:
        a = np.array(rows, dtype=np.float64)
    except (TypeError, ValueError):  # a null vertex or a ragged row
        a = None
    if a is None or a.ndim != 2 or a.shape[1] != 2:
        i = next((i for i, p in enumerate(rows)
                  if p is None or np.ndim(p) != 1 or len(p) != 2), 0)
        shown = "null" if rows[i] is None else np.asarray(rows[i]).tolist()
        raise ValueError(f"{what}: vertex {i} is {shown}, not [x, y]")
    if np.isnan(a).any():
        raise ValueError(f"{what}: vertex {int(np.isnan(a).any(axis=1).argmax())} "
                         "has a null or NaN coordinate")
    return a


# ---------------------------------------------------------------- predicates
def points_in_polygon(xs: np.ndarray, ys: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Vectorized ray-cast point-in-polygon (boundary counts as inside).

    Reference parity: shapely `within`/`covered_by` probes
    (link_arcs.py:92-97, validate_meshblock.py:378-380).
    """
    n = len(poly)
    x1, y1 = poly[:, 0], poly[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    inside = np.zeros(len(xs), dtype=bool)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    for i in range(n):
        ax, ay, bx, by = x1[i], y1[i], x2[i], y2[i]
        cond = (ay > ys) != (by > ys)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = ax + (ys - ay) * (bx - ax) / (by - ay)
        inside ^= cond & (xs < xint)
    return inside


def points_in_polygons_indexed(
    xs: np.ndarray, ys: np.ndarray, stacked: np.ndarray, idx: np.ndarray
) -> np.ndarray:
    """Fully vectorized ray-cast for MANY (point, polygon) pairs at once:
    ``stacked`` is (P, V, 2) — P polygons sharing vertex count V —
    and ``idx`` maps each point row to its polygon. One pass per edge,
    zero per-polygon Python; the fast path of the PIP refine when
    polygons are grouped by vertex count."""
    n, V = len(xs), stacked.shape[1]
    inside = np.zeros(n, dtype=bool)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    for i in range(V):
        j = (i + 1) % V
        ax = stacked[idx, i, 0]
        ay = stacked[idx, i, 1]
        bx = stacked[idx, j, 0]
        by = stacked[idx, j, 1]
        cond = (ay > ys) != (by > ys)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xint = ax + (ys - ay) * (bx - ax) / (by - ay)
        inside ^= cond & (xs < xint)
    return inside


def polygon_area(poly: np.ndarray) -> float:
    """Shoelace area."""
    x, y = poly[:, 0], poly[:, 1]
    return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)


def _is_ccw(poly: np.ndarray) -> bool:
    x, y = poly[:, 0], poly[:, 1]
    return (np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) > 0


def convex_clip(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip ``subject`` polygon by CONVEX ``clip``.

    Returns the (possibly empty) intersection polygon. Exactness path for
    the conflation occupation area (conflate_meshblock.py:115-117) when
    boundaries are convex (grid/Voronoi tiles).
    """
    if not _is_ccw(clip):
        clip = clip[::-1]
    out = subject
    m = len(clip)
    for i in range(m):
        if len(out) == 0:
            return np.empty((0, 2))
        ax, ay = clip[i]
        bx, by = clip[(i + 1) % m]
        # signed distance to clip edge (positive = inside for CCW clip)
        px_, py_ = out[:, 0], out[:, 1]
        d = (bx - ax) * (py_ - ay) - (by - ay) * (px_ - ax)
        new_pts: list[tuple[float, float]] = []
        n = len(out)
        for j in range(n):
            k = (j + 1) % n
            dj, dk = d[j], d[k]
            if dj >= -EPS:
                new_pts.append((out[j, 0], out[j, 1]))
            if (dj > EPS and dk < -EPS) or (dj < -EPS and dk > EPS):
                t = dj / (dj - dk)
                new_pts.append(
                    (out[j, 0] + t * (out[k, 0] - out[j, 0]),
                     out[j, 1] + t * (out[k, 1] - out[j, 1]))
                )
        out = np.array(new_pts) if new_pts else np.empty((0, 2))
    return out


def convex_clip_area(subject: np.ndarray, clip: np.ndarray) -> float:
    inter = convex_clip(subject, clip)
    return polygon_area(inter) if len(inter) >= 3 else 0.0


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_properly_intersect(
    p1: np.ndarray, p2: np.ndarray, q1: np.ndarray, q2: np.ndarray
) -> np.ndarray:
    """Vectorized proper-crossing test for segment arrays (N,2) each:
    interiors intersect at a single point (shapely `crosses` on segments,
    validate_topology.py:285-293)."""
    d1 = _orient(q1[:, 0], q1[:, 1], q2[:, 0], q2[:, 1], p1[:, 0], p1[:, 1])
    d2 = _orient(q1[:, 0], q1[:, 1], q2[:, 0], q2[:, 1], p2[:, 0], p2[:, 1])
    d3 = _orient(p1[:, 0], p1[:, 1], p2[:, 0], p2[:, 1], q1[:, 0], q1[:, 1])
    d4 = _orient(p1[:, 0], p1[:, 1], p2[:, 0], p2[:, 1], q2[:, 0], q2[:, 1])
    return (
        ((d1 > EPS) & (d2 < -EPS) | (d1 < -EPS) & (d2 > EPS))
        & ((d3 > EPS) & (d4 < -EPS) | (d3 < -EPS) & (d4 > EPS))
    )


def polylines_cross(a: np.ndarray, b: np.ndarray) -> bool:
    """Do two polylines properly cross (interior crossing, not endpoint
    touch)? O(na*nb) segment tests — refinement only, after cell prefilter."""
    na, nb = len(a) - 1, len(b) - 1
    if na < 1 or nb < 1:
        return False
    p1 = np.repeat(a[:-1], nb, axis=0)
    p2 = np.repeat(a[1:], nb, axis=0)
    q1 = np.tile(b[:-1], (na, 1))
    q2 = np.tile(b[1:], (na, 1))
    return bool(segments_properly_intersect(p1, p2, q1, q2).any())


def _point_on_segment_interior(px_, py_, ax, ay, bx, by) -> np.ndarray:
    """Vectorized: does (px, py) lie strictly inside segment (a, b)?"""
    cross = (bx - ax) * (py_ - ay) - (by - ay) * (px_ - ax)
    on_line = np.abs(cross) <= EPS * np.maximum(1.0, np.hypot(bx - ax, by - ay))
    t = ((px_ - ax) * (bx - ax) + (py_ - ay) * (by - ay)) / np.maximum(
        (bx - ax) ** 2 + (by - ay) ** 2, 1e-300
    )
    return on_line & (t > EPS) & (t < 1 - EPS)


def polylines_cross_shapely(a: np.ndarray, b: np.ndarray) -> bool:
    """shapely-`crosses` semantics for two polylines: interiors intersect
    in a point (dimension 0). Covers (1) transversal proper crossings and
    (2) interior-vertex-on-interior contacts; excludes endpoint touches
    and collinear (dimension-1) overlaps. Reference: validation 303
    (validate_topology.py:285-293)."""
    if polylines_cross(a, b):
        return True
    # interior vertex of one line lying on the interior of the other
    for p, q in ((a, b), (b, a)):
        if len(p) < 3:
            continue
        iv = p[1:-1]  # interior vertices
        for j in range(len(q) - 1):
            ax, ay = q[j]
            bx, by = q[j + 1]
            hit = _point_on_segment_interior(iv[:, 0], iv[:, 1], ax, ay, bx, by)
            # also exact coincidence with q's interior vertices
            if hit.any():
                return True
        if len(q) > 2:
            qi = q[1:-1]
            d = np.abs(iv[:, None, :] - qi[None, :, :]).sum(axis=2)
            if (d <= EPS).any():
                return True
    return False


def points_on_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized: is each point ON the (unclosed) ring's boundary —
    collinear with an edge and within its extent, endpoints inclusive?"""
    on = np.zeros(len(xs), dtype=bool)
    r2 = np.roll(ring, -1, axis=0)
    for (ax, ay), (bx, by) in zip(ring, r2):
        cross = (bx - ax) * (ys - ay) - (by - ay) * (xs - ax)
        scale = max(1.0, float(np.hypot(bx - ax, by - ay)))
        ab2 = (bx - ax) ** 2 + (by - ay) ** 2
        if ab2 <= EPS:
            continue
        t = ((xs - ax) * (bx - ax) + (ys - ay) * (by - ay)) / ab2
        on |= (np.abs(cross) <= EPS * scale) & (t >= -EPS) & (t <= 1 + EPS)
    return on


def polyline_crosses_ring(line: np.ndarray, ring: np.ndarray) -> bool:
    """Does any line segment properly cross an edge of the (unclosed)
    ring? Vectorized: one pass per line segment over all ring edges."""
    r1 = ring
    r2 = np.roll(ring, -1, axis=0)
    for i in range(len(line) - 1):
        p1 = np.repeat(line[i : i + 1], len(ring), axis=0)
        p2 = np.repeat(line[i + 1 : i + 2], len(ring), axis=0)
        if segments_properly_intersect(p1, p2, r1, r2).any():
            return True
    return False


def polyline_within_polygon(line: np.ndarray, shell: np.ndarray,
                            holes: list[np.ndarray] | tuple = ()) -> bool:
    """Is the polyline within the polygon (shell boundary inclusive, hole
    interiors excluded) — shapely `within` for the meshblock 201 check
    (validate_meshblock.py:368-392)?

    Sample test (all vertices + segment midpoints inside-or-on-boundary)
    PLUS a proper-crossing test of every line segment against every ring
    edge — the crossing test catches a segment that exits and re-enters
    a CONCAVE shell between sample points, which sampling alone misses.

    Boundary inclusivity is EXPLICIT: the ray-cast alone excludes points
    on right/top edges and corners, which false-flags the most common
    real deadend shape — a stub hanging off a junction node that sits on
    the face ring (shapely `within` accepts it). A sample ON a hole ring
    is likewise on the face boundary, not inside the hole."""
    mids = (line[1:] + line[:-1]) / 2.0
    pts = np.vstack([line, mids])
    ok = points_in_polygon(pts[:, 0], pts[:, 1], shell)
    if not ok.all():
        ok = ok | points_on_ring(pts[:, 0], pts[:, 1], shell)
        if not ok.all():
            return False
    if polyline_crosses_ring(line, shell):
        return False
    for h in holes:
        h = np.asarray(h, dtype=np.float64)
        in_hole = points_in_polygon(pts[:, 0], pts[:, 1], h)
        if in_hole.any() and (in_hole & ~points_on_ring(pts[:, 0], pts[:, 1], h)).any():
            return False
        if polyline_crosses_ring(line, h):
            return False
    return True


def polylines_overlap(a: np.ndarray, b: np.ndarray) -> bool:
    """shapely-`overlaps` semantics for polylines: they share a
    positive-length collinear section but neither equals the other.
    Reference: validation 202 (validate_topology.py:383-392).
    Equality must be excluded by the CALLER (checksum equality) — this
    kernel only detects a shared dimension-1 section."""
    for i in range(len(a) - 1):
        p1, p2 = a[i], a[i + 1]
        d1 = p2 - p1
        # same sqrt form as the Column fast path
        # (validate._seg_overlap_col) — hypot can differ by an ulp
        L1 = np.sqrt(d1[0] * d1[0] + d1[1] * d1[1])
        if L1 <= EPS:
            continue
        for j in range(len(b) - 1):
            q1, q2 = b[j], b[j + 1]
            # collinear: both q endpoints on the infinite line through p
            c1 = d1[0] * (q1[1] - p1[1]) - d1[1] * (q1[0] - p1[0])
            c2 = d1[0] * (q2[1] - p1[1]) - d1[1] * (q2[0] - p1[0])
            if abs(c1) > EPS * L1 or abs(c2) > EPS * L1:
                continue
            # 1D projections onto p's direction
            t1 = ((q1 - p1) @ d1) / (L1 * L1)
            t2 = ((q2 - p1) @ d1) / (L1 * L1)
            lo, hi = min(t1, t2), max(t1, t2)
            if min(hi, 1.0) - max(lo, 0.0) > EPS:
                return True
    return False


def polyline_is_simple(a: np.ndarray) -> bool:
    """No self-intersection — shapely `is_simple`, validation 101
    (validate_topology.py:328-345): flags self-crossings AND self-touches
    (revisited vertices), except a closed ring (first == last only)."""
    n = len(a) - 1
    if n < 2:
        return True
    for i in range(n - 1):
        js = np.arange(i + 1, n)
        p1 = np.repeat(a[i : i + 1], len(js), axis=0)
        p2 = np.repeat(a[i + 1 : i + 2], len(js), axis=0)
        if segments_properly_intersect(p1, p2, a[js], a[js + 1]).any():
            return False
    # revisited vertices (self-touch): any duplicate coordinate except the
    # closing first==last pair of a ring
    seen = {}
    for idx, (x, y) in enumerate(a):
        key = (round(float(x), 9), round(float(y), 9))
        if key in seen and not (seen[key] == 0 and idx == len(a) - 1):
            return False
        seen.setdefault(key, idx)
    # interior vertex lying on a non-adjacent segment (T-touch on self)
    if len(a) > 2:
        iv = a[1:-1]
        for j in range(n):
            ax, ay = a[j]
            bx, by = a[j + 1]
            hit = _point_on_segment_interior(iv[:, 0], iv[:, 1], ax, ay, bx, by)
            hit[max(0, j - 1) : j + 1] = False  # adjacent vertices excluded
            if hit.any():
                return False
        # adjacent collinear backtrack (spike) = dimension-1 self-overlap
        d = a[1:] - a[:-1]
        cross = d[:-1, 0] * d[1:, 1] - d[:-1, 1] * d[1:, 0]
        dot = (d[:-1] * d[1:]).sum(axis=1)
        if ((np.abs(cross) <= EPS) & (dot < -EPS)).any():
            return False
    return True


# ---------------------------------------------------------------- linear referencing
def cum_lengths(line: np.ndarray) -> np.ndarray:
    seg = np.sqrt(((line[1:] - line[:-1]) ** 2).sum(axis=1))
    return np.concatenate([[0.0], np.cumsum(seg)])


def line_interpolate(line: np.ndarray, dist: float) -> np.ndarray:
    """Point at distance along line — shapely `interpolate`
    (helpers.py:419,424)."""
    cl = cum_lengths(line)
    total = cl[-1]
    d = min(max(dist, 0.0), total)
    i = int(np.searchsorted(cl, d, side="right") - 1)
    i = min(i, len(line) - 2)
    seg = cl[i + 1] - cl[i]
    t = 0.0 if seg <= 0 else (d - cl[i]) / seg
    return line[i] + t * (line[i + 1] - line[i])


def line_locate(line: np.ndarray, x: float, y: float) -> float:
    """Distance along line of the closest point to (x, y) — shapely
    `project` (validate_meshblock.py:196)."""
    p = np.array([x, y])
    a, b = line[:-1], line[1:]
    ab = b - a
    ab2 = (ab**2).sum(axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(((p - a) * ab).sum(axis=1) / np.where(ab2 == 0, 1, ab2), 0, 1)
    proj = a + t[:, None] * ab
    d2 = ((proj - p) ** 2).sum(axis=1)
    i = int(np.argmin(d2))
    cl = cum_lengths(line)
    return float(cl[i] + t[i] * np.sqrt(ab2[i]))


def split_line_at_distances(line: np.ndarray, dists: list[float]) -> list[np.ndarray]:
    """Split a polyline at sorted linear-reference distances — reference
    `split_lines` (helpers.py:408-440): cuts merged with vertices by
    measure, segments emitted between consecutive cuts."""
    cl = cum_lengths(line)
    total = cl[-1]
    cuts = sorted({d for d in dists if EPS < d < total - EPS})
    if not cuts:
        return [line.copy()]
    pieces: list[np.ndarray] = []
    bounds = [0.0] + cuts + [total]
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        mask = (cl > lo + EPS) & (cl < hi - EPS)
        mid = line[mask]
        piece = np.vstack([line_interpolate(line, lo), mid, line_interpolate(line, hi)])
        pieces.append(piece)
    return pieces


def simplify_dp(line: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker polyline simplification (iterative stack — no
    recursion limit on degenerate inputs). Endpoints always survive;
    every dropped vertex lies within ``tol`` perpendicular distance of
    the chord of the recursion step that dropped it (the classic DP
    guarantee). tol=0 removes exactly-collinear interior vertices.

    The reference leans on geometry simplification for speed
    (helpers.py:376 buffer(resolution=5), fetch_deltas.py:197); here it
    is the vector-side zoom generalization for per-level tile
    materialization (operators/generalize.py)."""
    n = len(line)
    if n <= 2:
        return line.copy()
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        a, b = line[lo], line[hi]
        seg = b - a
        pts = line[lo + 1:hi]
        den = float(np.hypot(*seg))
        if den <= 0.0:
            # degenerate chord: distance to the (coincident) endpoints
            d = np.hypot(pts[:, 0] - a[0], pts[:, 1] - a[1])
        else:
            d = np.abs((pts[:, 0] - a[0]) * seg[1]
                       - (pts[:, 1] - a[1]) * seg[0]) / den
        imax = int(np.argmax(d))
        if d[imax] > tol:
            split = lo + 1 + imax
            keep[split] = True
            stack.append((lo, split))
            stack.append((split, hi))
    return line[keep]
