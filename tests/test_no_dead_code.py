"""Dead-code gates, Spark-free, over the parsed ``egp_crn_spark/**`` modules.

1. Every top-level function or class is reachable from the engine's
   contract, or it is on ``ALLOWLIST`` with the reference line or
   baseline rule it serves. The contract roots are the module-level
   code of every engine module (which holds each ``driverq*``
   ``QUERIES`` table and its oracle SQL), ``bench.py``,
   ``bench_extra.py``, ``__spark_entry__.py``, ``perfbench/`` and the
   non-demo tools in ``CONTRACT_TOOLS``. Reachability follows code
   references — ``Name`` and ``Attribute`` nodes (f-string expressions
   included) and import aliases — transitively through the bodies of
   reached definitions, matching by name. A reference from a test or a
   demo, a bare string (a ``QUERIES`` key, say) or a docstring keeps
   nothing alive. Each allowlist entry names an existing definition
   that the contract does not reach and that a test references; it is
   a root, so what it calls stays too.
2. Every parameter whose default is a ``bool`` literal is passed by at
   least one call outside ``tests/`` (by keyword, by position, or via
   ``*``/``**``). A flag no caller sets is a fork with one live branch.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "egp_crn_spark"
CORPUS_DIRS = ("egp_crn_spark", "tests", "tools", "perfbench")
CORPUS_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")
CONTRACT_TOOLS = ("check_correctness", "plan_audit", "plan_capture",
                  "scaling_bench", "scaling_worker", "external_check")

# module::definition -> why it stays although no contract path calls it
ALLOWLIST = {
    "egp_crn_spark/operators/lineage.py::CheckpointedRun":
        "BASELINE.json north_rule: resumable from checkpoint with "
        "per-partition lineage",
    "egp_crn_spark/operators/linkage.py::link_arcs":
        "reference link_arcs.py:92-119",
    "egp_crn_spark/operators/deltas.py::ngd_additions":
        "reference fetch_deltas.py:166-233",
    "egp_crn_spark/operators/deltas.py::ngd_deletions":
        "reference fetch_deltas.py:166-233",
    "egp_crn_spark/operators/deltas.py::nrn_modifications":
        "reference fetch_deltas.py:166-233",
    "egp_crn_spark/operators/deltas.py::missing_ids":
        "reference restore_geometry.py:92-94",
    "egp_crn_spark/operators/segment.py::enforce_suggested_snapping":
        "reference helpers.py:110-178",
    "egp_crn_spark/operators/nodes.py::crossings":
        "reference gen_crossings.py:132-148 (node_degrees rides it)",
    "egp_crn_spark/operators/conflate.py::conflate_pairs_convex":
        "reference conflate_meshblock.py:115-117 (convex_clip rides it)",
    "egp_crn_spark/functions/geomexpr.py::ring_area":
        "reference conflate_meshblock.py:117 (.area)",
    "egp_crn_spark/functions/geomexpr.py::rect_overlap_area":
        "reference conflate_meshblock.py:115-117",
    "egp_crn_spark/operators/cellsets.py::compact_cells":
        "BASELINE.json north_star: cells res 7-10 with compact/uncompact",
    "egp_crn_spark/operators/cellsets.py::uncompact_cells":
        "BASELINE.json north_star: cells res 7-10 with compact/uncompact",
    "egp_crn_spark/operators/cellsets.py::join_points_to_multires_cells":
        "BASELINE.json north_star: cells res 7-10 with compact/uncompact "
        "(joins a compacted set without uncompacting; cell_res rides it)",
    "egp_crn_spark/operators/generalize.py::generalize_levels":
        "BASELINE.json north_star: raster<->vector tile materialization "
        "(the vector twin of build_pyramid's level union)",
    "egp_crn_spark/operators/dissolve.py::explode_multipart":
        "reference helpers.py:181-208",
    "egp_crn_spark/operators/dedup.py::hot_shingles":
        "ROADMAP.md north star: a cap reports what it dropped",
    "egp_crn_spark/functions/cells_h3.py::set_patch":
        "BASELINE.json north_star H3 cells: the conformance tests' patch seam",
    "egp_crn_spark/functions/cells_s2.py::set_patch":
        "BASELINE.json north_star S2 cells: the conformance tests' patch seam",
}


def _corpus() -> dict[Path, list[str]]:
    paths = [p for d in CORPUS_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    paths += [ROOT / f for f in CORPUS_FILES]
    this = Path(__file__).resolve()
    return {p: p.read_text().splitlines() for p in paths if p.resolve() != this}


def _code_refs(nodes: list[ast.AST]) -> set[str]:
    """Every name a code reference in ``nodes`` uses."""
    refs = set()
    for tree in nodes:
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.update(node.name.split("."))
    return refs


def _engine_defs() -> tuple[dict[str, list[ast.AST]], dict[str, str],
                            set[str]]:
    """(name -> top-level def nodes, "module::name" -> name, names the
    engine's module-level code references)."""
    defs: dict[str, list[ast.AST]] = {}
    keys: dict[str, str] = {}
    module_refs: set[str] = set()
    for mod in sorted(PACKAGE.rglob("*.py")):
        rest = []
        for node in ast.parse(mod.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                keys[f"{mod.relative_to(ROOT)}::{node.name}"] = node.name
            else:
                rest.append(node)
        module_refs |= _code_refs(rest)
    return defs, keys, module_refs


def _reached(defs: dict[str, list[ast.AST]], roots: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in defs.get(name, []):
            todo.extend(_code_refs([node]) - seen)
    return seen


def _contract_roots() -> set[str]:
    files = [ROOT / f for f in CORPUS_FILES]
    files += sorted((ROOT / "perfbench").rglob("*.py"))
    files += [ROOT / "tools" / f"{t}.py" for t in CONTRACT_TOOLS]
    return _code_refs([ast.parse(f.read_text()) for f in files])


def unreached_names() -> list[str]:
    """Top-level engine definitions neither the contract nor an
    allowlist entry reaches."""
    defs, keys, module_refs = _engine_defs()
    roots = module_refs | _contract_roots() | {keys[k] for k in ALLOWLIST
                                               if k in keys}
    seen = _reached(defs, roots)
    return [k for k, name in keys.items() if name not in seen]


def allowlist_faults() -> list[str]:
    defs, keys, module_refs = _engine_defs()
    contract = _reached(defs, module_refs | _contract_roots())
    tested = _code_refs([ast.parse(p.read_text())
                         for p in sorted((ROOT / "tests").rglob("*.py"))])
    faults = []
    for key, why in ALLOWLIST.items():
        name = key.split("::")[1]
        if key not in keys:
            faults.append(f"{key}: no such top-level definition")
        elif name in contract:
            faults.append(f"{key}: the contract reaches it; drop the entry")
        elif name not in tested:
            faults.append(f"{key}: no test references it")
        if not why.strip():
            faults.append(f"{key}: no citation")
    return faults


def test_no_unreferenced_top_level_definitions():
    dead = unreached_names()
    assert not dead, ("top-level definitions no query, bench row, "
                      "workload or contract tool reaches:\n" + "\n".join(dead))


def test_allowlist_entries_are_live_cited_and_tested():
    faults = allowlist_faults()
    assert not faults, "stale allowlist entries:\n" + "\n".join(faults)


def _positional_index(fn: ast.FunctionDef | ast.AsyncFunctionDef,
                      name: str) -> int | None:
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    if pos and pos[0] in ("self", "cls"):
        pos = pos[1:]
    return pos.index(name) if name in pos else None


def _passes(call: ast.Call, name: str, index: int | None) -> bool:
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return index is not None and len(call.args) > index


def unset_flags() -> list[str]:
    corpus = _corpus()
    # callee name -> every call to a function or method of that name
    # outside tests/
    calls: dict[str, list[ast.Call]] = {}
    for path, text in corpus.items():
        if path.is_relative_to(ROOT / "tests"):
            continue
        for node in ast.walk(ast.parse("\n".join(text))):
            if isinstance(node, ast.Call):
                f = node.func
                callee = (f.id if isinstance(f, ast.Name)
                          else f.attr if isinstance(f, ast.Attribute) else None)
                if callee:
                    calls.setdefault(callee, []).append(node)
    unset = []
    for mod in sorted(PACKAGE.rglob("*.py")):
        for fn in ast.walk(ast.parse("\n".join(corpus[mod]))):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            params = list(zip(pos[len(pos) - len(a.defaults):], a.defaults))
            params += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
            for p, d in params:
                if not (isinstance(d, ast.Constant) and isinstance(d.value, bool)):
                    continue
                index = _positional_index(fn, p.arg)
                if not any(_passes(c, p.arg, index)
                           for c in calls.get(fn.name, [])):
                    unset.append(f"{mod.relative_to(ROOT)}::{fn.name}({p.arg})")
    return unset


def test_no_bool_flag_left_unset():
    unset = unset_flags()
    assert not unset, ("bool parameters no call outside tests/ sets:\n"
                       + "\n".join(unset))
