"""Deterministic HTML → text extraction (SURVEY.md §2.11 i1).

The per-row invariant the driver checks (BASELINE.json input_hint):
extracted text per url is byte-identical to the reference. In-sandbox the
reference contract is the committed golden fixtures (BASELINE.md): content
is the whitespace-normalized concatenation of ``<p>`` block texts, in
document order, inline tags stripped, HTML entities unescaped. Head, nav,
footer, script/style are boilerplate and dropped.

Pure function + Arrow-vectorized pandas UDF wrapper — never a row-at-a-time
Spark UDF.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd

_RE_SCRIPT = re.compile(r"<(script|style)\b.*?</\1\s*>", re.IGNORECASE | re.DOTALL)
_RE_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_RE_HEAD = re.compile(r"<head\b.*?</head\s*>", re.IGNORECASE | re.DOTALL)
_RE_PARA = re.compile(r"<p\b[^>]*>(.*?)</p\s*>", re.IGNORECASE | re.DOTALL)
_RE_TAG = re.compile(r"<[^>]+>")
_RE_WS = re.compile(r"\s+")


def extract_text(html_bytes: bytes | bytearray | memoryview | None) -> str:
    """Extract the main text of one HTML page. Deterministic; frozen."""
    if html_bytes is None:
        return ""
    raw = bytes(html_bytes).decode("utf-8", errors="replace")
    # Order matters and is part of the frozen contract:
    # scripts/styles can contain literal "</p>" → remove them first.
    raw = _RE_SCRIPT.sub(" ", raw)
    raw = _RE_COMMENT.sub(" ", raw)
    raw = _RE_HEAD.sub(" ", raw)
    blocks = []
    for m in _RE_PARA.finditer(raw):
        inner = _RE_TAG.sub("", m.group(1))
        inner = _html.unescape(inner)
        inner = _RE_WS.sub(" ", inner).strip()
        if inner:
            blocks.append(inner)
    return " ".join(blocks)


def _extract_series(html: pd.Series) -> pd.Series:
    return html.map(extract_text)


def extract_text_udf(col):
    """Arrow-vectorized UDF wrapper (built per call — pandas_udf needs an
    active SparkSession to resolve its return type)."""
    from pyspark.sql import functions as F

    return F.pandas_udf(_extract_series, "string")(col)
