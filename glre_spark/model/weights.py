"""Frozen seeded model weights (SURVEY.md §2.11).

Built once per process, broadcast to executors by the inference stage.
Draw order is part of the frozen contract — do not reorder.
"""

from __future__ import annotations

import numpy as np

MODEL_SEED = 20240042

D = 32            # hidden dim
VHASH = 4096      # hashing-trick vocabulary size
R_EDGE = 5        # edge types: MM, MS, ME, SS, ES
L_RGCN = 2        # R-GCN layers
HEADS = 4         # local attention heads
D_DIST = 8        # distance-embedding dim
N_DIST = 7        # distance buckets: 0..5, 6+
N_REL = 97        # 96 DocRED-style relations + NA at index 0
D_FF = 64         # classifier hidden


def build_weights() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(MODEL_SEED)
    s = 1.0 / np.sqrt(D)

    def mat(*shape, scale=s):
        return (rng.standard_normal(shape) * scale).astype(np.float32)

    w: dict[str, np.ndarray] = {}
    w["emb"] = mat(VHASH, D, scale=1.0)          # token hash embeddings
    w["node_type"] = mat(3, D, scale=1.0)        # mention/entity/sentence
    for layer in range(L_RGCN):
        w[f"rgcn_w0_{layer}"] = mat(D, D)
        for r in range(R_EDGE):
            w[f"rgcn_wr_{layer}_{r}"] = mat(D, D)
    w["mha_q"] = mat(2 * D, D)                   # pair-conditioned query
    w["mha_k"] = mat(D, D)
    w["mha_v"] = mat(D, D)
    w["mha_o"] = mat(D, D)
    w["ctx_q"] = mat(D, D)                       # self-attended context pool
    w["dist"] = mat(N_DIST, D_DIST, scale=1.0)
    d_feat = 5 * D + D_DIST                      # g_h, l_h, g_t, l_t, ctx, dist
    w["ff1_w"] = mat(d_feat, D_FF, scale=1.0 / np.sqrt(d_feat) * 1.0)
    w["ff1_b"] = np.zeros(D_FF, dtype=np.float32)
    w["ff2_w"] = mat(D_FF, N_REL, scale=1.0 / np.sqrt(D_FF) * 1.0)
    w["ff2_b"] = np.zeros(N_REL, dtype=np.float32)
    return w
