"""Engine constants.

Thresholds mirror the reference's semantics (cited file:line into
/root/reference) so validation counts reproduce exactly; the coordinate
frame replaces EPSG:3347 meters with a deterministic planar frame derived
from phash bit-slices (BASELINE.json input_hint).
"""

from __future__ import annotations

import os

# ---------------------------------------------------------------- coordinate frame
#: Planar extent of the engine's coordinate domain, both axes: [0, EXTENT).
#: Units are "meters" for threshold parity with the reference (EPSG:3347).
EXTENT: float = 65536.0

#: phash bit-slice width per axis (BASELINE.json input_hint: phash:int64 →
#: top 32 bits = x-slice, low 32 bits = y-slice).
PHASH_AXIS_BITS: int = 32

#: Max cell resolution: 2**r cells per axis, r in [0, MAX_RES].
MAX_RES: int = 16

#: Coordinate rounding, in decimals, of the one node identity
#: (operators/nodes.node_key: struct<nx, ny> of round(coord, 5) * 10^5) —
#: mirrors reference 5-decimal rounding (/root/reference/src/helpers.py:306-342).
COORD_DECIMALS: int = 5

# ---------------------------------------------------------------- reference thresholds
#: Node-snap proximity for non-boundary arcs (helpers.py:345-352).
SNAP_PROX: float = 0.1
#: Node-snap proximity for boundary arcs (helpers.py:345-352).
SNAP_PROX_BOUNDARY: float = 0.01
#: Min deadend-to-network distance, validation 102 (validate_topology.py:104).
MIN_DISTANCE: float = 5.0
#: Cluster tolerance — min distance between adjacent vertices, validation
#: 103 (validate_topology.py:105).
CLUSTER_TOLERANCE: float = 0.01
#: Conflation occupation threshold (conflate_meshblock.py:29-39).
OCCUPATION_THRESHOLD: float = 0.8
#: Node degree at/above which a node is a routability crossing
#: (gen_crossings.py:47).
CROSSING_DEGREE: int = 4
#: Snap radius used by enforce-snapping kNN (helpers.py:160-162).
KNN_MAX_DISTANCE: float = 0.01

# ---------------------------------------------------------------- runtime knobs
def env_cpus(default: int = 32) -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", default))


def env_sf_dir(default: str = "/root/testdata/sf0.1") -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)
