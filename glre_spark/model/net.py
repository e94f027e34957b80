"""GLRE forward pass in numpy (paper §3; SURVEY.md §2.11 i5-i12).

Per-document computation — documents are independent, so this runs inside
the Arrow-batched ``mapInPandas`` inference stage; nothing here touches
Spark. All ops are vectorized numpy over the document's nodes/pairs.
"""

from __future__ import annotations

import hashlib
from typing import NamedTuple

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


# Types indexed once for the vectorized pair loop. _GATE_ANY[ti, tj]: does
# the (type_h, type_t) gate open? Every TYPE_GATE entry lists at least one
# relation, so a key is an open gate.
_TYPES = ["PER", "ORG", "LOC", "TIME", "NUM", "MISC"]
_TYPE_IDX = {t: i for i, t in enumerate(_TYPES)}
_GATE_ANY = np.zeros((len(_TYPES), len(_TYPES)), dtype=bool)
for _th, _tt in TYPE_GATE:
    _GATE_ANY[_TYPE_IDX[_th], _TYPE_IDX[_tt]] = True

# Flat type-pair group id → SORTED gated relation columns (ascending, so a
# per-group argmax breaks float ties exactly like argmax over the full
# -inf-masked logit row: first hit === lowest relation index). Used by the
# r5 gated classifier head, which computes logits only at a pair's ≤3
# legal columns instead of all 97.
_GATE_COLS = {
    _TYPE_IDX[th] * len(_TYPES) + _TYPE_IDX[tt]: np.sort(idxs)
    for (th, tt), idxs in TYPE_GATE.items()
}


# Gated pairs the ff1 + gated-head tail takes at once. ``predict_batch``
# runs the tail whenever its pending pairs reach this count, and once more
# at the end of the call, so a Python worker's peak memory is bounded by
# it plus one document's pairs, whatever the Arrow batch size or the
# document length. 16384 is where r7's cross-document GEMMs had amortized
# numpy's per-call dispatch. It is a fixed size, not a setting: the memory
# bound and the GEMM width are both properties of this model.
TAIL_PAIRS = 16384


class _PairStage(NamedTuple):
    """One document's output of ``GLREModel._pair_stage``.

    ``hh`` / ``tt``: doc-local head / tail entity ids of the gated pairs;
    ``dist``: distance bucket; ``gidx``: type-pair group id. ``ent_g``:
    per-entity global reps; ``ctx``: the doc's context rep; ``l_single``:
    per-entity local rep, 0 on multi-mention entities. ``rows_h`` /
    ``l_h_multi``: pair rows whose head is multi-mention and their
    attended head reps; ``rows_t`` / ``l_t_multi`` the same for tails."""

    hh: np.ndarray
    tt: np.ndarray
    dist: np.ndarray
    gidx: np.ndarray
    ent_g: np.ndarray
    ctx: np.ndarray
    l_single: np.ndarray
    rows_h: np.ndarray
    l_h_multi: np.ndarray
    rows_t: np.ndarray
    l_t_multi: np.ndarray


class GLREModel:
    """Frozen deterministic GLRE. ``predict_batch(docs)`` → one PRED_DTYPE
    record array per doc: (h, t, rel, score) with score > θ, one (argmax)
    relation per ordered entity pair, gated by entity-type compatibility.

    The classifier scores a pair on ``[g_h; l_h; g_t; l_t; ctx; dist] @
    ff1_w + ff1_b``, ReLU, then the ff2 logits. The forward pass rests on
    four algebraic identities (same predictions; floats reassociate, so
    scores drift by ≤2e-7, and emit sets were verified identical):

    1. (r5) every feature block that is constant per entity / per doc /
       per distance bucket goes through its ff1 / mha_q weight block
       BEFORE pair fan-out, so those GEMMs run at ne (not ne²) rows;
    2. (r5) the classifier head computes logits only at a pair's ≤3
       type-gated relation columns instead of all 97;
    3. (r5) single-mention entities (~91% of this corpus) skip attention —
       softmax over one slot is exactly 1, so their local rep is the
       per-entity chain v·W_o;
    4. by (3), ``l_h`` / ``l_t`` of a single-mention entity is a
       per-entity value, so it folds into the per-entity head / tail
       blocks of (1): ``H = g @ F1[0:D] + l_single @ F1[D:2D] + (ctx @
       F1[4D:5D] + b)[doc]``, ``T = g @ F1[2D:3D] + l_single @ F1[3D:4D]``
       (``l_single`` is 0 on multi-mention entities), and a pair's hidden
       row is ``H[h] + T[t] + dist_block[dist]`` plus, only on the rows
       whose head or tail is multi-mention (~9% of entities), that role's
       attended rep @ its F1 block. No (P, D) local-rep array is built.

    The graph + attention stages are vectorized PER DOCUMENT: full
    cross-document TENSOR batching (the (pairs, M, H, dh) attention
    gathers) was tried in r5 and measured 6× MORE CPU — those gathers
    fall out of cache, while a document's ~10³ gated pairs are
    L2-resident — so per-doc work stays per-doc. r7 batched the flat 2-D
    tail (ff1 + gated head) across documents: the per-doc (≈50, 64) GEMMs
    were numpy dispatch-bound (~37% of the forward pass), and per-batch
    GEMMs measured 1298 → 962 us/doc at 256-doc Arrow batches.

    The tail runs every ``TAIL_PAIRS`` pending pairs rather than once per
    call: run once over a 256-doc batch it held every pair at once,
    ~1.1 KB per pair (a 465 MB worker peak over 256 long pages), so memory
    grew with the batch. A fixed pair count keeps the GEMMs wide and the
    memory bounded. A per-doc tail needs no constant but was rejected: on
    short docs (kg_resume-shaped) it measured 1073 → 1328 us/doc (+24%),
    the r7 dispatch cost again."""

    def __init__(self, weights: dict[str, np.ndarray]):
        self.w = weights

    def _pair_stage(self, doc: Doc, tok_ids: TokenIds) -> _PairStage | None:
        """Per-document stage: graph forward + attended local reps of the
        pairs with a multi-mention head or tail. Returns None when the doc
        can emit nothing, else the features the pair tail consumes."""
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
        dist = np.minimum(np.abs(first_sent[hh] - first_sent[tt]), N_DIST - 1)
        gidx = type_idx[hh] * len(_TYPES) + type_idx[tt]

        # identity 3: a single-mention entity's local rep is v[e, 0] @
        # mha_o, per ENTITY. Identity 4 folds it into the tail's entity
        # blocks, so multi-mention rows are zeroed here and corrected per
        # pair below.
        n_ment = np.array([len(c) for c in doc.entities], dtype=np.int64)
        first_idx = np.array([c[0] for c in doc.entities], dtype=np.int64)
        l_single = (ment_g[first_idx] @ w["mha_v"]) @ w["mha_o"]  # (ne, D)
        multi = n_ment > 1
        l_single[multi] = 0.0
        rows_h = np.nonzero(multi[hh])[0]
        rows_t = np.nonzero(multi[tt])[0]
        if rows_h.size + rows_t.size == 0:
            none = np.zeros((0, D), dtype=l_single.dtype)
            return _PairStage(hh, tt, dist, gidx, ent_g, ctx, l_single,
                              rows_h, none, rows_t, none)

        # Only multi-mention entities get the padded tensor + per-pair
        # attention. The two role passes stay SEPARATE — fusing them into
        # one (2P, …) einsum measured 1.4× slower (the doubled gather
        # spills L2, the same cache cliff as cross-doc tensor batching).
        dh = D // HEADS
        # r5: q = concat(ent_h, ent_t) @ mha_q ≡ ent_h @ mha_q[:D] +
        # ent_t @ mha_q[D:], so the GEMM runs at ne rows once and the pair
        # fan-out is a gather+add.
        qh_e = ent_g @ w["mha_q"][:D]                             # (ne, D)
        qt_e = ent_g @ w["mha_q"][D:]                             # (ne, D)
        midx = np.nonzero(multi)[0]
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

        def attended(rows: np.ndarray, ent_idx: np.ndarray) -> np.ndarray:
            """i9 at the given pair rows, one entity role: (rows, D)."""
            ei = remap[ent_idx[rows]]
            qq = (qh_e[hh[rows]] + qt_e[tt[rows]]).reshape(-1, HEADS, dh)
            ke, ve, me = k[ei], v[ei], ment_msk[ei]
            scores = np.einsum("phd,pmhd->phm", qq, ke) / np.sqrt(dh)
            scores = np.where(me[:, None, :], scores, -np.inf)
            att = _softmax(scores, axis=2)
            return np.einsum("phm,pmhd->phd", att, ve).reshape(-1, D) @ w["mha_o"]

        return _PairStage(hh, tt, dist, gidx, ent_g, ctx, l_single,
                          rows_h, attended(rows_h, hh), rows_t, attended(rows_t, tt))

    def _tail(self, staged: list[_PairStage]) -> list[np.ndarray]:
        """ff1 + gated head over the concatenated pairs of ``staged``
        (identities 1, 2 and 4 of the class docstring) → one PRED_DTYPE
        array per staged doc. The classifier computes logits only at each
        pair's ≤3 type-gated columns, ascending, so the per-group argmax
        keeps the exact lowest-index tie-break."""
        w = self.w
        F1 = w["ff1_w"]
        ne_sizes = [st.ent_g.shape[0] for st in staged]
        p_sizes = [st.hh.size for st in staged]
        ent_off = np.cumsum([0, *ne_sizes[:-1]])
        p_off = np.cumsum([0, *p_sizes[:-1]])
        ent_all = np.vstack([st.ent_g for st in staged])
        l_all = np.vstack([st.l_single for st in staged])
        ctx_all = np.vstack([st.ctx for st in staged])

        H = ent_all @ F1[0 * D : 1 * D]                             # (Ne, F)
        H += l_all @ F1[1 * D : 2 * D]
        H += (ctx_all @ F1[4 * D : 5 * D] + w["ff1_b"])[np.repeat(np.arange(len(staged)), ne_sizes)]
        T = ent_all @ F1[2 * D : 3 * D]
        T += l_all @ F1[3 * D : 4 * D]

        hid = H[np.concatenate([st.hh + o for st, o in zip(staged, ent_off)])]  # (P, F)
        hid += T[np.concatenate([st.tt + o for st, o in zip(staged, ent_off)])]
        rows = np.concatenate([st.rows_h + o for st, o in zip(staged, p_off)])
        hid[rows] += np.vstack([st.l_h_multi for st in staged]) @ F1[1 * D : 2 * D]
        rows = np.concatenate([st.rows_t + o for st, o in zip(staged, p_off)])
        hid[rows] += np.vstack([st.l_t_multi for st in staged]) @ F1[3 * D : 4 * D]
        hid += (w["dist"] @ F1[5 * D :])[np.concatenate([st.dist for st in staged])]
        np.maximum(hid, 0.0, out=hid)

        gidx = np.concatenate([st.gidx for st in staged])
        best = np.zeros(gidx.size, dtype=np.int64)
        score = np.zeros(gidx.size, dtype=np.float64)
        for gid in np.unique(gidx):
            cols = _GATE_COLS[int(gid)]
            sel = gidx == gid
            lg = hid[sel] @ w["ff2_w"][:, cols] + w["ff2_b"][cols]
            bi = lg.argmax(axis=1)
            best[sel] = cols[bi]
            score[sel] = _sigmoid(lg[np.arange(lg.shape[0]), bi])
        emit = score > SCORE_THRESHOLD
        rec = np.empty(int(emit.sum()), dtype=PRED_DTYPE)
        rec["h"] = np.concatenate([st.hh for st in staged])[emit]   # doc-local ids
        rec["t"] = np.concatenate([st.tt for st in staged])[emit]
        rec["rel"] = best[emit]
        rec["score"] = score[emit]
        # emitted rows are in doc order: one split at the per-doc counts
        pair_doc = np.repeat(np.arange(len(staged)), p_sizes)
        n_emit = np.bincount(pair_doc[emit], minlength=len(staged))
        return np.split(rec, np.cumsum(n_emit)[:-1])

    def predict_batch(self, docs: list[Doc]) -> list[np.ndarray]:
        """One PRED_DTYPE record array per doc, in ``docs`` order (empty
        for a doc that can emit nothing). Runs the per-doc graph stage
        doc by doc and the batched ff1 + gated-head tail (``_tail``) each
        time the pending gated pairs reach ``TAIL_PAIRS``, then once over
        the rest: the tail's width is bounded by pairs, not by
        ``len(docs)``. See the class docstring for the identities."""
        out = [np.empty(0, dtype=PRED_DTYPE) for _ in docs]
        tok_ids = TokenIds()
        pending, n_pairs = [], 0
        for di, doc in enumerate(docs):
            st = self._pair_stage(doc, tok_ids)
            if st is not None:
                pending.append((di, st))
                n_pairs += st.hh.size
            if pending and (n_pairs >= TAIL_PAIRS or di == len(docs) - 1):
                recs = self._tail([st for _, st in pending])
                for (i, _), rec in zip(pending, recs):
                    out[i] = rec
                pending, n_pairs = [], 0
        return out
