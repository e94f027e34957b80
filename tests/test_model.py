"""Model-layer unit tests + the P/R-vs-reference gate (SURVEY.md §5.2.4).

The in-sandbox "reference GLRE predictions" are the committed goldens in
tests/goldens/golden_predictions.json, produced by the frozen deterministic
model. P/R of the live pipeline against them must be ≥0.95 (it is 1.0 by
construction while the model stays frozen — any drift fails loudly here)."""

from __future__ import annotations

import json
import pathlib
import tracemalloc

import numpy as np
import pytest

from glre_spark.datagen import gen_page_row, gen_pages
from glre_spark.extract import extract_text
from glre_spark.model import GLREModel, build_weights, net
from glre_spark.model.net import REL_IDS
from glre_spark.model.weights import D, HEADS, N_DIST
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


def test_docred_corpus_is_rebuilt_over_a_stale_file(tmp_path):
    """A file already at the corpus path (an earlier model's labels, a
    torn write) is replaced by the fresh corpus, not returned as is: the
    op and its DuckDB twin both read it, so parity cannot see it stale."""
    from glre_spark.operators.udfops import _materialize_docred

    fresh = pathlib.Path(_materialize_docred(str(tmp_path / "fresh.json"))).read_bytes()
    stale = tmp_path / "docred.json"
    stale.write_bytes(b'[{"title": "stale", "labels": []}]')
    assert pathlib.Path(_materialize_docred(str(stale))).read_bytes() == fresh
    assert sorted(p.name for p in tmp_path.iterdir()) == ["docred.json", "fresh.json"]


def _literal_predictions(w: dict, doc) -> dict[tuple[int, int, int], float]:
    """{(h, t, rel): score} for one doc, straight from the paper's math:
    per gated ordered pair, softmax attention over the entity's mentions
    for EVERY entity (single-mention ones included), the concatenated
    [g_h; l_h; g_t; l_t; ctx; dist] @ ff1 + b, ReLU, all 97 logits, the
    type-gate mask and argmax. None of the model's pair-stage identities
    (per-entity ff1 blocks, gated columns, single-mention shortcut, the
    folded local reps, the batched tail) are used."""
    if len(doc.entities) < 2:
        return {}
    nodes, nm, ne, ns = net.build_nodes(w, doc, net.encode_words(w, doc.sents, net.TokenIds()))
    g = net.rgcn_forward(w, nodes, net.build_adj(doc, nm, ne, ns))
    ment_g, ent_g = g[:nm], g[nm : nm + ne]
    ctx = net.context_pool(w, g[nm + ne :])
    dh = D // HEADS

    def local(e: int, q: np.ndarray) -> np.ndarray:
        ments = ment_g[doc.entities[e]]
        k = (ments @ w["mha_k"]).reshape(-1, HEADS, dh)
        v = (ments @ w["mha_v"]).reshape(-1, HEADS, dh)
        scores = (k * q.reshape(HEADS, dh)).sum(axis=2) / np.sqrt(dh)   # (m, H)
        att = np.exp(scores - scores.max(axis=0))
        att /= att.sum(axis=0)
        return (att[:, :, None] * v).sum(axis=0).reshape(D) @ w["mha_o"]

    out = {}
    for h in range(ne):
        for t in range(ne):
            gate = net.TYPE_GATE.get((doc.entity_types[h], doc.entity_types[t]))
            if h == t or gate is None:
                continue
            q = np.concatenate([ent_g[h], ent_g[t]]) @ w["mha_q"]
            sh = doc.mentions[doc.entities[h][0]].sent_id
            st = doc.mentions[doc.entities[t][0]].sent_id
            feat = np.concatenate([
                ent_g[h], local(h, q), ent_g[t], local(t, q), ctx,
                w["dist"][min(abs(sh - st), N_DIST - 1)],
            ])
            hid = np.maximum(feat @ w["ff1_w"] + w["ff1_b"], 0.0)
            logits = hid @ w["ff2_w"] + w["ff2_b"]
            masked = np.full(len(REL_IDS), -np.inf, dtype=logits.dtype)
            masked[gate] = logits[gate]
            r = int(masked.argmax())
            score = 1.0 / (1.0 + np.exp(-logits[r]))
            if score > net.SCORE_THRESHOLD:
                out[(h, t, r)] = float(score)
    return out


def test_predict_batch_matches_literal_math():
    """The batched, folded forward pass emits exactly what the literal
    per-pair classifier emits over the golden corpus, with scores within
    float reassociation (|Δ| ≤ 1e-6)."""
    w = build_weights()
    docs = [analyze(p["url"], p["text"]) for p in gen_pages(N_GOLD_DOCS)]
    preds = GLREModel(w).predict_batch(docs)
    n_emit = 0
    for doc, rec in zip(docs, preds):
        want = _literal_predictions(w, doc)
        got = {(h, t, r): s for h, t, r, s in rec.tolist()}
        assert set(got) == set(want), doc.url
        assert all(abs(got[k] - want[k]) <= 1e-6 for k in got), doc.url
        n_emit += len(got)
    assert n_emit > 0


def test_predict_batch_memory_bounded_by_pairs():
    """The pair tail runs at a fixed pair count, so one call's peak
    traced memory does not grow with the number of docs in the call:
    256 long kg_build-shaped pages peak at most 2× their first 32."""
    rows = (gen_page_row(i, 42, (12, 28)) for i in range(400))
    docs = [analyze(r["url"], extract_text(r["html"])) for r in rows if r["lang"] == "en"][:256]
    assert len(docs) == 256
    model = GLREModel(build_weights())

    def peak(batch) -> int:
        tracemalloc.start()
        try:
            model.predict_batch(batch)
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    small, full = peak(docs[:32]), peak(docs)
    assert full <= 2 * small, f"peak {full / 2**20:.1f} MB over 256 docs vs {small / 2**20:.1f} MB over 32"


if __name__ == "__main__":  # regenerate goldens after an INTENTIONAL model change
    GOLDEN.parent.mkdir(exist_ok=True)
    rows = [list(r) for r in _predict_all()]
    GOLDEN.write_text(json.dumps(rows, indent=0))
    print(f"wrote {len(rows)} golden predictions to {GOLDEN}")
