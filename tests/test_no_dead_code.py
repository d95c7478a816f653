"""Dead-code gates, Spark-free, over the parsed ``egp_crn_spark/**`` modules.

1. Every top-level function or class is referenced by code somewhere in
   the package, the tests, the tools, the benchmark or the bench entry
   points — everywhere except the definition's own source lines. A
   reference is a ``Name`` or ``Attribute`` node (f-string expressions
   included), an import alias, or a string constant that is exactly the
   name; a mention in a docstring or comment does not keep a function
   alive. A name referenced nowhere else is dead code.
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


def _corpus() -> dict[Path, list[str]]:
    paths = [p for d in CORPUS_DIRS for p in sorted((ROOT / d).rglob("*.py"))]
    paths += [ROOT / f for f in CORPUS_FILES]
    this = Path(__file__).resolve()
    return {p: p.read_text().splitlines() for p in paths if p.resolve() != this}


def _referenced_names(tree: ast.AST) -> list[tuple[str, int]]:
    """(name, line) of every code reference in ``tree``."""
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif isinstance(node, ast.alias):
            refs += [(part, node.lineno) for part in node.name.split(".")]
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            refs.append((node.value, node.lineno))
    return refs


def unreferenced_names() -> list[str]:
    corpus = _corpus()
    # name -> every (file, 0-based line) it is referenced on
    where: dict[str, list[tuple[Path, int]]] = {}
    for path, text in corpus.items():
        for name, line in _referenced_names(ast.parse("\n".join(text))):
            where.setdefault(name, []).append((path, line - 1))
    dead = []
    for mod in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse("\n".join(corpus[mod])).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            own = range(node.lineno - 1, node.end_lineno)
            if all(path == mod and i in own
                   for path, i in where.get(node.name, [])):
                dead.append(f"{mod.relative_to(ROOT)}::{node.name}")
    return dead


def test_no_unreferenced_top_level_definitions():
    dead = unreferenced_names()
    assert not dead, "unreferenced top-level definitions:\n" + "\n".join(dead)


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
