"""Vertex-decode gate, Spark-free: ``functions/geomkernel.vertex_array``
is the one place an ``array<array<double>>`` value becomes a numpy
vertex array.

Any other ``egp_crn_spark/`` module that builds a numpy array from a
per-vertex comprehension — ``np.asarray([list(p) for p in vs])`` or
``np.array([[p[0], p[1]] for p in vs])`` — fails the gate: such a copy
turns a row of one-coordinate vertices into an (n, 1) array, a 3-wide
row into (n, 3) and a null coordinate into NaN without an error.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "egp_crn_spark"
DECODER = PACKAGE / "functions" / "geomkernel.py"
_ARRAY_FUNCS = {"array", "asarray", "asanyarray", "ascontiguousarray"}


def _is_vertex(elt: ast.expr, var: str) -> bool:
    """``list(var)`` / ``tuple(var)``, or ``[var[i], var[j]]``."""
    if (isinstance(elt, ast.Call) and isinstance(elt.func, ast.Name)
            and elt.func.id in ("list", "tuple") and len(elt.args) == 1):
        arg = elt.args[0]
        return isinstance(arg, ast.Name) and arg.id == var
    return (isinstance(elt, (ast.List, ast.Tuple)) and len(elt.elts) == 2
            and all(isinstance(e, ast.Subscript) and isinstance(e.value, ast.Name)
                    and e.value.id == var for e in elt.elts))


def vertex_decode_lines(source: str) -> list[int]:
    """Lines of ``source`` that pass a per-vertex comprehension to a numpy
    array constructor."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in _ARRAY_FUNCS and node.args):
            continue
        comp = node.args[0]
        if not isinstance(comp, (ast.ListComp, ast.GeneratorExp)):
            continue
        target = comp.generators[0].target
        if isinstance(target, ast.Name) and _is_vertex(comp.elt, target.id):
            lines.append(node.lineno)
    return lines


def test_detector_flags_every_decode_form():
    src = "\n".join([
        "a = np.asarray([list(p) for p in vs], dtype=np.float64)",
        "b = np.array([[p[0], p[1]] for p in v])",
        "c = np.asarray([tuple(q) for q in vs])",
        "d = np.concatenate([np.asarray([list(p) for p in v]) for v in col])",
        # not vertex decodes: segment rows, encodes, other numpy calls
        "e = np.asarray([[a[0], a[1], b[0], b[1]] for a, b in segs])",
        "f = [list(p) for p in arr]",
        "g = np.fromiter((m.get(int(p), -1) for p in key), dtype=np.int64)",
    ])
    assert vertex_decode_lines(src) == [1, 2, 3, 4]


def test_no_vertex_decode_outside_geomkernel():
    sites = [f"{mod.relative_to(ROOT)}:{line}"
             for mod in sorted(PACKAGE.rglob("*.py"))
             if mod != DECODER
             for line in vertex_decode_lines(mod.read_text())]
    assert not sites, ("per-vertex decode outside geomkernel.vertex_array:\n"
                       + "\n".join(sites))
