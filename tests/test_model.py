"""Model-layer unit tests + the P/R-vs-reference gate (SURVEY.md §5.2.4).

The in-sandbox "reference GLRE predictions" are the committed goldens in
tests/goldens/golden_predictions.json, produced by the frozen deterministic
model. P/R of the live pipeline against them must be ≥0.95 (it is 1.0 by
construction while the model stays frozen — any drift fails loudly here)."""

from __future__ import annotations

import json
import pathlib

import numpy as np
import pytest

from glre_spark.datagen import gen_pages
from glre_spark.model import GLREModel, build_weights
from glre_spark.model.net import REL_IDS
from glre_spark.nlp import analyze, detect_mentions, sent_split, tokenize

GOLDEN = pathlib.Path(__file__).parent / "goldens" / "golden_predictions.json"
N_GOLD_DOCS = 120


def _predict_all():
    """[(url, h, t, r)] over the golden corpus, one predict_batch call."""
    pages = gen_pages(N_GOLD_DOCS)
    docs = [analyze(p["url"], p["text"]) for p in pages]
    preds = GLREModel(build_weights()).predict_batch(docs)
    return [
        (p["url"], h, t, REL_IDS[r])
        for p, rec in zip(pages, preds)
        for h, t, r, _ in rec.tolist()
    ]


def test_nlp_mentions_and_sentences():
    doc = analyze("u", "Alice Johnson works for Acme Corporation . Acme Corporation is headquartered in New York .")
    assert len(doc.sents) == 2
    names = {m.name for m in doc.mentions}
    assert {"Alice Johnson", "Acme Corporation", "New York"} <= names
    # coref: both Acme mentions in one entity cluster
    acme = [i for i, n in enumerate(doc.entity_names) if n == "Acme Corporation"]
    assert len(acme) == 1
    assert len(doc.entities[acme[0]]) == 2


def test_rel_vocabulary_is_docred_shaped():
    assert len(REL_IDS) == 97 and REL_IDS[0] == "NA"
    assert len(set(REL_IDS)) == 97


def test_model_deterministic_across_weight_rebuilds():
    m1, m2 = GLREModel(build_weights()), GLREModel(build_weights())
    docs = [analyze(p["url"], p["text"]) for p in gen_pages(3)]
    a, b = m1.predict_batch(docs), m2.predict_batch(docs)
    assert len(a) == len(b) == 3 and sum(map(len, a)) > 0
    assert all(np.array_equal(x, y) for x, y in zip(a, b))


def test_precision_recall_vs_reference_goldens():
    got = set(_predict_all())
    want = {
        tuple(x) for x in json.loads(GOLDEN.read_text())
    }
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision >= 0.95, f"precision {precision:.3f} < 0.95 vs reference goldens"
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95 vs reference goldens"


def test_docred_labels_match_reference_goldens(tmp_path):
    """The DocRED-shaped corpus (udfops._materialize_docred) carries the
    model's labels: its (title, h, t, r) set must equal the goldens
    restricted to its urls. Both oracle engines read the same cached
    file, so parity alone cannot see a label change."""
    from glre_spark.operators.udfops import _materialize_docred

    docred = json.loads(pathlib.Path(_materialize_docred(str(tmp_path / "docred.json"))).read_text())
    got = {(d["title"], lb["h"], lb["t"], lb["r"]) for d in docred for lb in d["labels"]}
    titles = {d["title"] for d in docred}
    want = {tuple(x) for x in json.loads(GOLDEN.read_text()) if x[0] in titles}
    assert len(docred) == 40 and len(want) == 370
    assert got == want


if __name__ == "__main__":  # regenerate goldens after an INTENTIONAL model change
    GOLDEN.parent.mkdir(exist_ok=True)
    rows = [list(r) for r in _predict_all()]
    GOLDEN.write_text(json.dumps(rows, indent=0))
    print(f"wrote {len(rows)} golden predictions to {GOLDEN}")
