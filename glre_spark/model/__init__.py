"""Deterministic numpy reimplementation of GLRE's per-document forward pass
(paper arXiv:2009.10359 §3; SURVEY.md §2.11 i5-i12).

No torch in this sandbox (SURVEY.md §0): the BERT encoder is replaced by a
deterministic hash-seeded embedding + context mixer with the same
interface; everything downstream (node building, 5-edge-type heterogeneous
graph, R-GCN global encoding, local multi-head entity attention,
self-attended context pooling, pair scoring over the DocRED-style relation
schema) follows the paper's computation shapes. Weights are frozen
(seeded) — the committed golden triples produced by this model are the
in-sandbox reference predictions (BASELINE.md).
"""

from glre_spark.model.net import GLREModel  # noqa: F401
from glre_spark.model.weights import MODEL_SEED, build_weights  # noqa: F401
