"""Dead-code gate: every top-level def/class in the package is used.

Spark-free. Parses each ``egp_crn_spark/**/*.py`` module, and for every
top-level function or class looks for its name (as a whole word) in the
package, the tests, the tools, the benchmark and the bench entry points
— everywhere except the definition's own source lines. A name found
nowhere else is dead code and fails the test.
"""

from __future__ import annotations

import ast
import re
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


def unreferenced_names() -> list[str]:
    corpus = _corpus()
    # word -> every (file, line index) it occurs on
    where: dict[str, list[tuple[Path, int]]] = {}
    for path, text in corpus.items():
        for i, line in enumerate(text):
            for w in set(re.findall(r"\w+", line)):
                where.setdefault(w, []).append((path, i))
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
