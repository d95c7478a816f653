"""Planar face extraction (polygonize) — dependency-free half-edge tracing.

Re-implements the semantics of shapely.ops.polygonize(unary_union(arcs))
used for meshblock creation (validate_meshblock.py:360-364,
conflate_meshblock.py:70-74): given NODED segments (arcs already split at
intersections — validation 303 enforces this upstream), extract all
bounded faces of the planar subdivision.

Algorithm: classic DCEL face tracing, ARRAY-VECTORIZED. Each undirected
segment yields two half-edges; outgoing half-edges are angularly ordered
per node with ONE global lexsort by (node, atan2); the successor of
half-edge (u→v) is the next outgoing edge at v rotating CLOCKWISE from
the reverse edge (v→u) — a pure index-arithmetic permutation. Tracing
chases that permutation's cycles (cheap list hops — the only remaining
per-element Python); bounded faces come out counter-clockwise (positive
signed area). Dangling edges (trees) trace degenerate zero-area cycles
and are dropped — matching shapely polygonize ignoring dangles. The
round-2 kernel did all of this with per-node dicts, per-call atan2 and
linear `list.index` scans; the array form is the same algorithm an order
of magnitude faster.
"""

from __future__ import annotations

import numpy as np

from .geomkernel import vertex_array

ROUND = 9


def polygonize_segments(segments) -> list[np.ndarray]:
    """segments: iterable of ((ax, ay), (bx, by)). Returns bounded faces
    as (n, 2) vertex arrays (closed implicitly, first vertex not
    repeated), CCW, sorted by (minx, miny, area) for determinism."""
    arr = np.asarray([[a[0], a[1], b[0], b[1]] for a, b in segments],
                     dtype=np.float64)
    return polygonize_segment_array(arr)


def polygonize_segment_array(arr: np.ndarray) -> list[np.ndarray]:
    """(n, 4) rows [ax, ay, bx, by] → bounded faces (see
    polygonize_segments). Fully array-based DCEL trace."""
    if len(arr) == 0:
        return []
    # node ids: unique rounded endpoints (rows 2i = a, 2i+1 = b); packing
    # (x, y) into complex sorts lexicographically with a 1-D sort — far
    # faster than np.unique(axis=0)'s row comparisons
    pts = np.round(arr.reshape(-1, 2), ROUND)
    packed = pts[:, 0] + 1j * pts[:, 1]
    upacked, inv = np.unique(packed, return_inverse=True)
    nodes = np.column_stack([upacked.real, upacked.imag])
    a_id, b_id = inv[0::2], inv[1::2]
    keep = a_id != b_id
    a_id, b_id = a_id[keep], b_id[keep]
    if len(a_id) == 0:
        return []
    # dedup identical undirected segments (single int64 key: ids < 2^31)
    lo = np.minimum(a_id, b_id).astype(np.int64)
    hi = np.maximum(a_id, b_id).astype(np.int64)
    ukey = np.unique(lo << 32 | hi)
    und = np.column_stack([ukey >> 32, ukey & 0xFFFFFFFF])
    e = len(und)
    # half-edges: [0, e) = u→v, [e, 2e) = v→u; twin by index arithmetic
    src = np.concatenate([und[:, 0], und[:, 1]])
    dst = np.concatenate([und[:, 1], und[:, 0]])
    twin = np.concatenate([np.arange(e, 2 * e), np.arange(e)])
    theta = np.arctan2(nodes[dst, 1] - nodes[src, 1], nodes[dst, 0] - nodes[src, 0])
    order = np.lexsort((theta, src))  # grouped by src node, CCW within group
    deg = np.bincount(src, minlength=len(nodes))
    start = np.concatenate([[0], np.cumsum(deg)[:-1]])  # group offsets by node id
    rank = np.empty(2 * e, dtype=np.int64)
    rank[order] = np.arange(2 * e) - start[src[order]]
    # successor of h: at v = dst[h], the edge one step CLOCKWISE from twin(h)
    nxt = order[start[dst] + (rank[twin] - 1) % deg[dst]]

    # chase permutation cycles into ONE flat node-id array + offsets
    # (nxt is a bijection → cycles are disjoint); per-face work below is
    # all reduceat — no per-face numpy allocation
    visited = bytearray(2 * e)
    nxt_l, src_l = nxt.tolist(), src.tolist()
    flat: list[int] = []
    starts: list[int] = []
    for h0 in range(2 * e):
        if visited[h0]:
            continue
        starts.append(len(flat))
        h = h0
        while not visited[h]:
            visited[h] = True
            flat.append(src_l[h])
            h = nxt_l[h]
    if not starts:
        return []
    idx = np.asarray(flat, dtype=np.int64)
    starts_a = np.asarray(starts, dtype=np.int64)
    total = len(idx)
    lens = np.diff(np.append(starts_a, total))
    xs, ys = nodes[idx, 0], nodes[idx, 1]
    # shoelace with wrap-around successor inside each cycle
    succ = np.arange(1, total + 1)
    succ[starts_a + lens - 1] = starts_a
    cross = xs * ys[succ] - ys * xs[succ]
    area2 = np.add.reduceat(cross, starts_a)
    ok = (lens >= 3) & (area2 > 1e-12)  # CCW bounded faces
    # deterministic order: (minx, miny, -n_vertices)
    minx = np.minimum.reduceat(xs, starts_a)
    miny = np.minimum.reduceat(ys, starts_a)
    kept = np.flatnonzero(ok)
    kept = kept[np.lexsort((-lens[kept], miny[kept], minx[kept]))]
    return [
        np.column_stack([xs[s:s + n], ys[s:s + n]])
        for s, n in zip(starts_a[kept].tolist(), lens[kept].tolist())
    ]


def polygonize_vertex_arrays(vertex_arrays,
                             what: str = "polygonize input") -> list[np.ndarray]:
    """Convenience: polylines (lists of [x, y]) → bounded faces; ``what``
    names the input in vertex_array's malformed-geometry error."""
    chunks = []
    for vs in vertex_arrays:
        a = vertex_array(vs, what)
        if len(a) >= 2:
            chunks.append(np.hstack([a[:-1], a[1:]]))
    if not chunks:
        return []
    return polygonize_segment_array(np.vstack(chunks))


def assign_holes(faces: list[np.ndarray]) -> list[tuple[np.ndarray, list[np.ndarray]]]:
    """Attach enclosed island rings as holes of their smallest enclosing
    face — GEOS/shapely polygonize semantics for nested linework: an
    island ring inside a face yields BOTH the outer face WITH the island
    as a hole AND the island as a face of its own.

    Nesting test: rings of the same connected component tile (they share
    nodes), so ring i is a hole candidate of ring j only when their node
    sets are DISJOINT and a vertex of i lies inside j. Exact for noded
    planar subdivisions; a vertex of a disconnected island cannot lie on
    j's boundary (it would be a shared node).
    """
    from .geomkernel import points_in_polygon

    n = len(faces)
    if n < 2:
        return [(f, []) for f in faces]
    areas = np.empty(n)
    boxes = np.empty((n, 4))
    for i, f in enumerate(faces):
        x, y = f[:, 0], f[:, 1]
        areas[i] = abs(float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))) / 2.0
        boxes[i] = (x.min(), y.min(), x.max(), y.max())
    # Grid-bucket prefilter (O(n) for tilings, never O(n²)): ring i can
    # only nest in ring j if j's bbox strictly contains i's, so index
    # median-sized faces into a uniform grid keyed by bbox cover cells
    # and probe with i's first vertex; oversized faces (the only ones
    # that could enclose many) are checked directly — there are few.
    ext = np.maximum(boxes[:, 2] - boxes[:, 0], boxes[:, 3] - boxes[:, 1])
    cell = max(float(np.median(ext)), 1e-9)
    large = [int(j) for j in np.where(ext > 4 * cell)[0]]
    grid: dict[tuple[int, int], list[int]] = {}
    for j in range(n):
        if ext[j] > 4 * cell:
            continue
        gx0, gy0 = int(boxes[j, 0] // cell), int(boxes[j, 1] // cell)
        gx1, gy1 = int(boxes[j, 2] // cell), int(boxes[j, 3] // cell)
        for gx in range(gx0, gx1 + 1):
            for gy in range(gy0, gy1 + 1):
                grid.setdefault((gx, gy), []).append(j)

    def node_key_set(i: int) -> set:
        return {(round(float(x), ROUND), round(float(y), ROUND)) for x, y in faces[i]}

    keys: dict[int, set] = {}
    holes: list[list[np.ndarray]] = [[] for _ in faces]
    for i in range(n):
        f = faces[i]
        vx, vy = float(f[0, 0]), float(f[0, 1])
        cands = grid.get((int(vx // cell), int(vy // cell)), [])
        best = None
        for j in list(cands) + large:
            if (j == i or areas[j] <= areas[i]
                    or not (boxes[j, 0] < boxes[i, 0] and boxes[j, 1] < boxes[i, 1]
                            and boxes[j, 2] > boxes[i, 2] and boxes[j, 3] > boxes[i, 3])):
                continue
            if i not in keys:
                keys[i] = node_key_set(i)
            if j not in keys:
                keys[j] = node_key_set(j)
            if keys[i] & keys[j]:
                continue  # shared nodes → same component → tiling, not nesting
            if points_in_polygon(f[:1, 0], f[:1, 1], faces[j])[0]:
                if best is None or areas[j] < areas[best]:
                    best = int(j)
        if best is not None:
            holes[best].append(f)
    return [(f, holes[i]) for i, f in enumerate(faces)]


def face_checksum(face: np.ndarray, decimals: int = 5) -> str:
    """Rotation- and direction-insensitive checksum of a face ring (for
    cross-tile dedup of border faces)."""
    import hashlib

    pts = [(round(float(x), decimals), round(float(y), decimals)) for x, y in face]
    # canonical start = lexicographically smallest vertex; canonical
    # direction = smaller of the two rotations
    i = min(range(len(pts)), key=lambda k: pts[k])
    fwd = pts[i:] + pts[:i]
    rev = [pts[i]] + list(reversed(pts[i + 1:] + pts[:i]))
    canon = min(fwd, rev)
    raw = ";".join(f"{x}:{y}" for x, y in canon)
    return hashlib.md5(raw.encode()).hexdigest()
