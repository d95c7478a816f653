"""Names of the per-layer metrics (README.md maps each to the end-to-end
metric it should move).

Layers are this repository's modules: ``session``, ``sources`` (table
IO), ``operators.<fn>`` (one per operator call) and ``spark`` (engine
totals of a pass: GC, spill, shuffle fetch wait, Python-worker bytes).
"""

OPERATORS = {
    "crn_qa": ["standardize", "snap_nodes", "validate_topology", "polygonize_meshblock"],
    "images": ["tile_assign", "point_in_polygon_join", "distance_join", "knn_join",
               "base_tiles", "rollup_level",
               "phash_near_dup", "dedup_minhash_lsh", "ivf_probe"],
}

# useful / attempted, read from the plan of the operator's digest query:
# its output rows over the rows of the plan node whose name contains the
# pattern ("top": the one nearest the root, "max": the largest)
YIELDS = {
    # within-bucket pairs from the slice-explode -> pairs within hamming
    "phash_near_dup": ("pair_yield", "Generate", "top"),
    # band-bucket self-join pairs -> pairs with verified Jaccard
    "dedup_minhash_lsh": ("pair_yield", "Join", "max"),
    # cell-prefilter candidates -> points inside their polygon
    "point_in_polygon_join": ("refine_yield", "Join", "top"),
    # grid-kernel candidates -> nearest neighbours
    "knn_join": ("candidate_yield", "MapIn", "top"),
}

OP_KEYS = ("construct_s", "exec_s", "task_cpu_s", "shuffle_bytes", "py_worker_s")

# per pass: table IO, engine totals, and how well the spans cover the pass
PASS_METRICS = ["sources.save_s", "sources.load_s", "sources.lineage_s",
                "sources.bytes_written", "sources.files_written", "sources.write_amp",
                "spark.gc_s", "spark.spill_bytes", "spark.fetch_wait_s", "spark.py_bytes",
                "trace.span_coverage"]


def operator_metrics() -> list[str]:
    names = [f"operators.{op}.{k}" for ops in OPERATORS.values() for op in ops for k in OP_KEYS]
    return names + [f"operators.{op}.{k}" for op, (k, _pattern, _pick) in YIELDS.items()]


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_yield", "_amp", "overhead", "coverage")):
        return "ratio"
    return "count"
