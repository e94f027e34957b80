"""GLRE forward pass in numpy (paper §3; SURVEY.md §2.11 i5-i12).

Per-document computation — documents are independent, so this runs inside
the Arrow-batched ``mapInPandas`` inference stage; nothing here touches
Spark. All ops are vectorized numpy over the document's nodes/pairs.
"""

from __future__ import annotations

import hashlib

import numpy as np

from glre_spark.datagen import rel_schema_rows
from glre_spark.model.weights import D, HEADS, L_RGCN, N_DIST, R_EDGE, VHASH
from glre_spark.nlp import Doc

# Relation vocabulary: index 0 = NA, 1..96 = schema rows (frozen order).
REL_IDS = ["NA"] + [r["rel_id"] for r in rel_schema_rows()]

# Type-pair gate: which relation indices an ordered (head_type, tail_type)
# pair may express. Mirrors DocRED's type-sensitive label space; keeps the
# emitted triples semantically shaped (PER-P108->ORG etc.).
_GATE_SPEC = {
    ("PER", "ORG"): ["P108", "P112", "P463"],
    ("PER", "LOC"): ["P19"],
    ("PER", "TIME"): ["P569"],
    ("ORG", "LOC"): ["P159", "P740", "P17"],
    ("ORG", "ORG"): ["P127"],
    ("ORG", "PER"): ["P169"],
    ("ORG", "TIME"): ["P571"],
    ("LOC", "LOC"): ["P131", "P17"],
}
TYPE_GATE = {
    k: np.array([REL_IDS.index(r) for r in v], dtype=np.int64)
    for k, v in _GATE_SPEC.items()
}

SCORE_THRESHOLD = 0.9  # θ — frozen with the weights; calibrated in tests

# One emitted prediction: doc-local head / tail entity ids, relation index
# into REL_IDS, sigmoid score (unrounded).
PRED_DTYPE = np.dtype([("h", np.int64), ("t", np.int64), ("rel", np.int64), ("score", np.float64)])


class TokenIds(dict):
    """Token → embedding-row id, filled on first lookup: the md5 of the
    lower-cased token, mod VHASH. ``predict_batch`` makes one per call, so
    the table lives as long as the Arrow batch it serves."""

    def __missing__(self, token: str) -> int:
        h = hashlib.md5(token.lower().encode()).digest()
        v = self[token] = int.from_bytes(h[:8], "big") % VHASH
        return v


def encode_words(w: dict, sents: list[list[str]], tok_ids: TokenIds) -> list[np.ndarray]:
    """i5: deterministic encoder stand-in — hash embedding + a local
    context mixer (0.5 self + 0.25 prev + 0.25 next). Returns per-sentence
    (n_tok, D) float32 arrays."""
    out = []
    emb = w["emb"]
    for toks in sents:
        ids = np.fromiter((tok_ids[t] for t in toks), dtype=np.int64, count=len(toks))
        e = emb[ids]
        mixed = 0.5 * e
        mixed[1:] += 0.25 * e[:-1]
        mixed[0] += 0.25 * e[0]
        mixed[:-1] += 0.25 * e[1:]
        mixed[-1] += 0.25 * e[-1]
        out.append(mixed.astype(np.float32))
    return out


def build_nodes(w: dict, doc: Doc, word_reps: list[np.ndarray]) -> tuple[np.ndarray, int, int, int]:
    """i6: mention nodes (avg span reps), entity nodes (avg mention nodes),
    sentence nodes (avg sentence reps), each + node-type embedding.
    Node layout: [mentions | entities | sentences].

    Vectorized as segment means over one float64 prefix-sum of the
    document's token reps (a per-mention ndarray.mean() was ~40% of the
    forward pass in tiny-array call overhead; summation-order change
    shifts scores by ~1e-7 — verified not to flip any golden prediction)."""
    nm, ne, ns = len(doc.mentions), len(doc.entities), len(doc.sents)
    nodes = np.zeros((nm + ne + ns, D), dtype=np.float32)
    lens = np.array([len(s) for s in word_reps], dtype=np.int64)
    offs = np.concatenate([[0], np.cumsum(lens)])
    allw = np.concatenate(word_reps) if word_reps else np.zeros((0, D), np.float32)
    cs = np.vstack([np.zeros((1, D)), np.cumsum(allw, axis=0, dtype=np.float64)])
    if nm:
        sid = np.array([m.sent_id for m in doc.mentions], dtype=np.int64)
        gs = offs[sid] + np.array([m.start for m in doc.mentions], dtype=np.int64)
        ge = offs[sid] + np.array([m.end for m in doc.mentions], dtype=np.int64)
        nodes[:nm] = ((cs[ge] - cs[gs]) / (ge - gs)[:, None]).astype(np.float32)
        nodes[:nm] += w["node_type"][0]
    if ne:
        ment_ent = np.zeros(nm, dtype=np.int64)
        for ei, cluster in enumerate(doc.entities):
            ment_ent[cluster] = ei
        esum = np.zeros((ne, D), dtype=np.float64)
        np.add.at(esum, ment_ent, nodes[:nm])
        ecnt = np.bincount(ment_ent, minlength=ne)[:, None]
        nodes[nm : nm + ne] = (esum / ecnt).astype(np.float32) + w["node_type"][1]
    nodes[nm + ne :] = (
        (cs[offs[1:]] - cs[offs[:-1]]) / lens[:, None]
    ).astype(np.float32) + w["node_type"][2]
    return nodes, nm, ne, ns


def build_adj(doc: Doc, nm: int, ne: int, ns: int) -> np.ndarray:
    """i7: 5-edge-type adjacency (MM, MS, ME, SS, ES), row-normalized per
    type (degree normalization, upstream adj_utils analog)."""
    n = nm + ne + ns
    A = np.zeros((R_EDGE, n, n), dtype=np.float32)
    ment_ent = np.zeros(nm, dtype=np.int64)
    for ei, cluster in enumerate(doc.entities):
        ment_ent[cluster] = ei
    sid = np.array([m.sent_id for m in doc.mentions], dtype=np.int64)
    mi = np.arange(nm)
    # MM: mentions co-occurring in a sentence (vectorized same-sid matrix)
    if nm:
        mm = (sid[:, None] == sid[None, :]).astype(np.float32)
        np.fill_diagonal(mm, 0.0)
        A[0, :nm, :nm] = mm
        A[1, mi, nm + ne + sid] = A[1, nm + ne + sid, mi] = 1.0       # MS
        A[2, mi, nm + ment_ent] = A[2, nm + ment_ent, mi] = 1.0       # ME
        # ES: entity ↔ sentences containing its mentions
        A[4, nm + ment_ent, nm + ne + sid] = 1.0
        A[4, nm + ne + sid, nm + ment_ent] = 1.0
    # SS: all sentence pairs (EoG-style sentence graph)
    ss = np.ones((ns, ns), dtype=np.float32)
    np.fill_diagonal(ss, 0.0)
    A[3, nm + ne :, nm + ne :] = ss
    deg = A.sum(axis=2, keepdims=True)
    np.divide(A, deg, out=A, where=deg > 0)
    return A


def rgcn_forward(w: dict, nodes: np.ndarray, A: np.ndarray) -> np.ndarray:
    """i8: L layers of h' = ReLU(h·W0 + Σ_r norm(A_r)·h·W_r)."""
    h = nodes
    for layer in range(L_RGCN):
        out = h @ w[f"rgcn_w0_{layer}"]
        for r in range(R_EDGE):
            out += A[r] @ (h @ w[f"rgcn_wr_{layer}_{r}"])
        h = np.maximum(out, 0.0)
    return h


def _softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


def context_pool(w: dict, sent_reps: np.ndarray) -> np.ndarray:
    """i10: self-attended pooling over the document's sentence reps."""
    query = sent_reps.mean(axis=0) @ w["ctx_q"]
    att = _softmax(sent_reps @ query / np.sqrt(D))
    return att @ sent_reps


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


# Dense (type_h, type_t) → relation-gate mask lookup for the vectorized
# pair loop. Types indexed once; mask[ti, tj] is a bool vector over REL_IDS.
_TYPES = ["PER", "ORG", "LOC", "TIME", "NUM", "MISC"]
_TYPE_IDX = {t: i for i, t in enumerate(_TYPES)}
_GATE_MASK = np.zeros((len(_TYPES), len(_TYPES), len(REL_IDS)), dtype=bool)
for (_th, _tt), _idxs in TYPE_GATE.items():
    _GATE_MASK[_TYPE_IDX[_th], _TYPE_IDX[_tt], _idxs] = True

# Flat type-pair group id → SORTED gated relation columns (ascending, so a
# per-group argmax breaks float ties exactly like argmax over the full
# -inf-masked logit row: first hit === lowest relation index). Used by the
# r5 gated classifier head, which computes logits only at a pair's ≤3
# legal columns instead of all 97.
_GATE_COLS = {
    _TYPE_IDX[th] * len(_TYPES) + _TYPE_IDX[tt]: np.sort(idxs)
    for (th, tt), idxs in TYPE_GATE.items()
}
_GATE_ANY = _GATE_MASK.any(axis=2)  # (6, 6): does this type-pair gate open?


class GLREModel:
    """Frozen deterministic GLRE. ``predict_batch(docs)`` → one PRED_DTYPE
    record array per doc: (h, t, rel, score) with score > θ, one (argmax)
    relation per ordered entity pair, gated by entity-type compatibility.

    The graph + attention stages are vectorized PER DOCUMENT: full
    cross-document TENSOR batching (the (pairs, M, H, dh) attention
    gathers) was tried in r5 and measured 6× MORE CPU — those gathers
    fall out of cache, while a document's ~10³ gated pairs are
    L2-resident — so per-doc work stays per-doc. r7 batches ONLY the
    flat 2-D tail (ff1 + gated head) across the docs of one
    ``predict_batch`` call: the per-doc (≈50, 64) GEMMs were numpy
    dispatch-bound (~37% of the forward pass), and concatenating them
    into per-batch (≈13k, 64) GEMMs measured 1298 → 962 us/doc at the
    production Arrow batch size (256 docs). Same math, same per-element
    add order; emit sets verified identical over 50k docs and the
    score drift bound (BLAS kernel choice by row count) is ≤2e-7 —
    the same standard as r5's restructure below. r5 notes: 
    three algebraic identities (2.7× on the kernel, structurally
    identical predictions, scores shift ≤1e-6): (1) every feature block
    that is constant per entity / per doc / per distance bucket goes
    through its ff1/mha_q weight block BEFORE pair fan-out, so those
    GEMMs run at ne (not ne²) rows; (2) the classifier head computes
    logits only at a pair's ≤3 type-gated relation columns instead of all
    97; (3) single-mention entities (~91% of this corpus) skip attention
    entirely — softmax over one slot is exactly 1, so their local rep is
    the per-entity chain v·W_o."""

    def __init__(self, weights: dict[str, np.ndarray], threshold: float = SCORE_THRESHOLD):
        self.w = weights
        self.threshold = threshold

    def _pair_stage(self, doc: Doc, tok_ids: TokenIds):
        """Per-document stage: graph forward + per-pair local (attention)
        reps. Returns None when the doc can emit nothing, else the flat
        pair features the batched ff1/head tail consumes:
        (hh, tt, l_h, l_t, dist, gidx, ent_g, ctx)."""
        if not doc.entities or len(doc.entities) < 2:
            return None
        w = self.w
        word_reps = encode_words(w, doc.sents, tok_ids)
        nodes, nm, ne, ns = build_nodes(w, doc, word_reps)
        A = build_adj(doc, nm, ne, ns)
        g = rgcn_forward(w, nodes, A)                      # global reps
        ment_g = g[:nm]
        ent_g = g[nm : nm + ne]
        sent_g = g[nm + ne :]
        ctx = context_pool(w, sent_g)
        first_sent = np.array(
            [doc.mentions[c[0]].sent_id for c in doc.entities], dtype=np.int64
        )
        type_idx = np.array([_TYPE_IDX[t] for t in doc.entity_types], dtype=np.int64)

        # candidate ordered pairs with a non-empty type gate (the (6, 6)
        # _GATE_ANY lookup replaces gathering full (ne², 97) mask rows —
        # the gated head re-derives each pair's columns from its
        # type-pair group id)
        hh = np.repeat(np.arange(ne), ne)
        tt = np.tile(np.arange(ne), ne)
        keep = hh != tt
        keep &= _GATE_ANY[type_idx[hh], type_idx[tt]]
        hh, tt = hh[keep], tt[keep]
        if hh.size == 0:
            return None

        dh = D // HEADS
        # r5: q = concat(ent_h, ent_t) @ mha_q ≡ ent_h @ mha_q[:D] +
        # ent_t @ mha_q[D:], so the GEMM runs at ne rows once and the pair
        # fan-out is a gather+add — replaces a (P, 2D) concatenate plus a
        # (P, 2D)@(2D, D) matmul at P ≈ ne² rows.
        qh_e = ent_g @ w["mha_q"][:D]                             # (ne, D)
        qt_e = ent_g @ w["mha_q"][D:]                             # (ne, D)

        # r5 single-mention shortcut: ~91% of this corpus' entities have
        # exactly ONE mention, and softmax over one slot is exactly 1.0, so
        # their local rep is query-independent: v[e, 0] @ mha_o, a
        # per-ENTITY matmul chain with no pair fan-out. Only multi-mention
        # entities get the padded tensor + per-pair attention, at ~9% of
        # the former (P, M, H, dh) gather/einsum volume. The two role
        # passes stay SEPARATE — fusing them into one (2P, …) einsum
        # measured 1.4× slower (the doubled gather spills L2, same cache
        # cliff as cross-doc tensor batching, see class docstring).
        n_ment = np.array([len(c) for c in doc.entities], dtype=np.int64)
        first_idx = np.array([c[0] for c in doc.entities], dtype=np.int64)
        l_single = (ment_g[first_idx] @ w["mha_v"]) @ w["mha_o"]  # (ne, D)
        multi = n_ment > 1
        midx = np.nonzero(multi)[0]
        if midx.size:
            remap = np.zeros(ne, dtype=np.int64)
            remap[midx] = np.arange(midx.size)
            M = int(n_ment[midx].max())
            ment_pad = np.zeros((midx.size, M, D), dtype=np.float32)
            ment_msk = np.zeros((midx.size, M), dtype=bool)
            for j, e in enumerate(midx):
                cluster = doc.entities[e]
                ment_pad[j, : len(cluster)] = ment_g[cluster]
                ment_msk[j, : len(cluster)] = True
            k = (ment_pad @ w["mha_k"]).reshape(midx.size, M, HEADS, dh)
            v = (ment_pad @ w["mha_v"]).reshape(midx.size, M, HEADS, dh)

        def batched_local(ent_idx: np.ndarray) -> np.ndarray:
            """i9 for all pairs at once, one entity role: (P, D)."""
            out = l_single[ent_idx]          # fancy index → fresh array
            rows = np.nonzero(multi[ent_idx])[0]
            if rows.size:
                ei = remap[ent_idx[rows]]
                qq = (qh_e[hh[rows]] + qt_e[tt[rows]]).reshape(-1, HEADS, dh)
                ke, ve, me = k[ei], v[ei], ment_msk[ei]
                scores = np.einsum("phd,pmhd->phm", qq, ke) / np.sqrt(dh)
                scores = np.where(me[:, None, :], scores, -np.inf)
                att = _softmax(scores, axis=2)
                out[rows] = (
                    np.einsum("phm,pmhd->phd", att, ve).reshape(-1, D)
                    @ w["mha_o"]
                )
            return out

        l_h = batched_local(hh)
        l_t = batched_local(tt)
        dist = np.minimum(np.abs(first_sent[hh] - first_sent[tt]), N_DIST - 1)
        gidx = type_idx[hh] * len(_TYPES) + type_idx[tt]
        return hh, tt, l_h, l_t, dist, gidx, ent_g, ctx

    def predict_batch(self, docs: list[Doc]) -> list[np.ndarray]:
        """Per-doc graph stage (see class docstring), then ONE ff1 + gated
        head over the concatenation of every doc's gated pairs. The r5 FF
        restructure comments apply unchanged — feat @ ff1_w decomposes
        over ff1_w's six row blocks; the entity / doc / distance-bucket
        blocks run at ne / n_docs / 7 rows and fan out by gather+add; the
        classifier computes logits only at each pair's ≤3 type-gated
        columns, ascending, so the per-group argmax keeps the exact
        lowest-index tie-break."""
        w = self.w
        F1 = w["ff1_w"]
        per, ent_blocks, ctx_rows, doc_idx = [], [], [], []
        tok_ids = TokenIds()
        for di, doc in enumerate(docs):
            st = self._pair_stage(doc, tok_ids)
            if st is None:
                continue
            per.append(st[:6])
            ent_blocks.append(st[6])
            ctx_rows.append(st[7])
            doc_idx.append(di)
        if not per:
            return [np.empty(0, dtype=PRED_DTYPE) for _ in docs]

        ne_sizes = np.array([b.shape[0] for b in ent_blocks])
        ent_off = np.concatenate([[0], np.cumsum(ne_sizes)])[:-1]
        p_sizes = np.array([p[0].size for p in per])
        pair_doc = np.repeat(np.arange(len(per)), p_sizes)
        ent_all = np.vstack(ent_blocks)
        hh_g = np.concatenate([p[0] + o for p, o in zip(per, ent_off)])
        tt_g = np.concatenate([p[1] + o for p, o in zip(per, ent_off)])
        l_h = np.vstack([p[2] for p in per])
        l_t = np.vstack([p[3] for p in per])
        dist = np.concatenate([p[4] for p in per])
        gidx = np.concatenate([p[5] for p in per])
        ctx_all = np.vstack(ctx_rows)

        hid = (ent_all @ F1[0 * D : 1 * D])[hh_g]                 # (P, F)
        hid += (ent_all @ F1[2 * D : 3 * D])[tt_g]
        hid += l_h @ F1[1 * D : 2 * D]
        hid += l_t @ F1[3 * D : 4 * D]
        hid += (ctx_all @ F1[4 * D : 5 * D] + w["ff1_b"])[pair_doc]
        hid += (w["dist"] @ F1[5 * D :])[dist]
        np.maximum(hid, 0.0, out=hid)

        best = np.zeros(hh_g.size, dtype=np.int64)
        score = np.zeros(hh_g.size, dtype=np.float64)
        for gid in np.unique(gidx):
            cols = _GATE_COLS[int(gid)]
            sel = gidx == gid
            lg = hid[sel] @ w["ff2_w"][:, cols] + w["ff2_b"][cols]
            bi = lg.argmax(axis=1)
            best[sel] = cols[bi]
            score[sel] = _sigmoid(lg[np.arange(lg.shape[0]), bi])
        emit = score > self.threshold
        rec = np.empty(int(emit.sum()), dtype=PRED_DTYPE)
        rec["h"] = np.concatenate([p[0] for p in per])[emit]   # doc-local ids
        rec["t"] = np.concatenate([p[1] for p in per])[emit]
        rec["rel"] = best[emit]
        rec["score"] = score[emit]
        # emitted rows are in doc order: one split at the per-doc counts
        n_emit = np.bincount(np.asarray(doc_idx)[pair_doc[emit]], minlength=len(docs))
        return np.split(rec, np.cumsum(n_emit)[:-1])
