"""No private py4j handles in the flagship: its modules reach the JVM
only through the public DataFrame / SparkSession API.

``_jdf``, ``_jvm`` and ``_jsc`` are PySpark internals with no stability
promise across releases and no equivalent under Spark Connect. An ``ast``
walk over the flagship's modules fails on any attribute read of them.
``operators/`` (op staging through a Hadoop FileSystem handle) and the
tests' plan probes are outside this rule.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent / "glre_spark"
PRIVATE = {"_jdf", "_jvm", "_jsc"}
SOURCES = [
    *(ROOT / f"{m}.py" for m in (
        "pipeline", "inference", "session", "linking", "lineage", "io", "streaming", "run",
    )),
    *sorted((ROOT / "model").rglob("*.py")),
]


def private_reads(source: str) -> list[str]:
    return [
        f"{n.lineno}:{n.attr}"
        for n in ast.walk(ast.parse(source))
        if isinstance(n, ast.Attribute) and n.attr in PRIVATE
    ]


def test_no_private_py4j_handles():
    found = {
        str(p.relative_to(ROOT.parent)): reads
        for p in SOURCES
        if (reads := private_reads(p.read_text()))
    }
    assert found == {}
