"""No unused imports: every name a module imports, it also reads.

No linter ships with the toolchain, so this is the one place the rule is
kept. An ``ast`` walk collects the names each import binds and the names
the module reads; an import whose names are never read fails, unless its
statement carries ``# noqa: F401`` (re-exports, registration imports).
``perfbench/`` is the benchmark's own tree and is not walked.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = [
    *sorted((ROOT / "glre_spark").rglob("*.py")),
    *sorted((ROOT / "tests").rglob("*.py")),
    ROOT / "bench.py",
    ROOT / "bench_scaling.py",
    ROOT / "__spark_entry__.py",
]


def unused_imports(source: str) -> list[str]:
    tree = ast.parse(source)
    lines = source.splitlines()
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    unused = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa: F401" in line for line in lines[node.lineno - 1 : node.end_lineno]):
            continue
        for alias in node.names:
            bound = alias.asname or alias.name.split(".")[0]
            if bound not in read:
                unused.append(f"{node.lineno}:{bound}")
    return unused


def test_no_unused_imports():
    found = {
        str(p.relative_to(ROOT)): names
        for p in SOURCES
        if (names := unused_imports(p.read_text()))
    }
    assert found == {}
