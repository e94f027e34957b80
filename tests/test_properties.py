"""Property-based tests (SURVEY.md §5.2.5) — pure-Python layers, no Spark.
Spark-level properties (linking idempotence, resume≡single-run) live in
test_linking.py / test_resume.py."""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

from glre_spark.datagen import (
    doc_text,
    gen_page_row,
    norm_alias,
    render_html,
)
from glre_spark.extract import extract_text
from glre_spark.nlp import sent_split, tokenize

doc_ids = st.integers(min_value=0, max_value=10_000_000)
seeds = st.integers(min_value=0, max_value=2**31 - 1)


@settings(max_examples=80, deadline=None)
@given(doc_ids, seeds)
def test_extraction_roundtrip_any_doc_any_seed(doc_id, seed):
    """The byte-identical invariant holds over the whole generator space,
    not just the committed fixtures."""
    row = gen_page_row(doc_id, seed)
    assert extract_text(row["html"]) == row["text"]


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=80))
def test_norm_alias_idempotent(s):
    once = norm_alias(s)
    assert norm_alias(once) == once
    assert once == once.strip()
    assert "  " not in once


@settings(max_examples=60, deadline=None)
@given(doc_ids)
def test_sentence_split_preserves_tokens(doc_id):
    text, sents = doc_text(doc_id)
    toks = tokenize(text)
    split = sent_split(toks)
    assert [t for s in split for t in s] == toks
    assert split == sents or len(split) == len(sents)


@settings(max_examples=30, deadline=None)
@given(doc_ids, seeds)
def test_html_rendering_deterministic(doc_id, seed):
    _, sents = doc_text(doc_id, seed)
    a = render_html("https://u", sents, seed, doc_id)
    b = render_html("https://u", sents, seed, doc_id)
    assert a == b
    assert hashlib.md5(a).hexdigest() == hashlib.md5(b).hexdigest()
