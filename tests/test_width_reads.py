"""One width rule: only ``session.py`` (``fan_out`` and the shuffle
width) and ``pipeline.py`` (the inference stage's url exchange) read the
cluster's ``defaultParallelism``. Every other stage that spreads a narrow
input calls ``session.fan_out``, so a second sizing formula cannot creep
back in. An ``ast`` walk over ``glre_spark/`` fails on any other
attribute read of it.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent / "glre_spark"
READERS = {"session.py", "pipeline.py"}


def width_reads(source: str) -> list[int]:
    return [
        n.lineno
        for n in ast.walk(ast.parse(source))
        if isinstance(n, ast.Attribute) and n.attr == "defaultParallelism"
    ]


def test_only_session_and_pipeline_read_default_parallelism():
    found = {
        str(p.relative_to(ROOT.parent)): lines
        for p in sorted(ROOT.rglob("*.py"))
        if str(p.relative_to(ROOT)) not in READERS and (lines := width_reads(p.read_text()))
    }
    assert found == {}
