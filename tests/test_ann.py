"""ANN quality gate: the LSH-bucketed top-k must recall ≥ 0.8 of the
brute-force cosine top-10 (VERDICT r01 item 6). Deterministic: seeded
hyperplanes + seeded test data → recall is a fixed number per SF."""

from __future__ import annotations

from glre_spark.operators import REGISTRY, _ensure_loaded
from tests.conftest import SF_DIR

_ensure_loaded()


def test_ann_lsh_recall_vs_brute_force(spark):
    brute = {r.vec_id for r in REGISTRY["ann_cosine_topk"][0](spark, SF_DIR).collect()}
    lsh = {r.vec_id for r in REGISTRY["ann_lsh_topk"][0](spark, SF_DIR).collect()}
    recall = len(brute & lsh) / len(brute)
    assert recall >= 0.8, f"ANN recall {recall:.2f} < 0.8 (lsh={sorted(lsh)})"


def test_ann_lsh_candidates_are_a_strict_subset(spark):
    """The LSH path must actually prune: candidate count < corpus size."""
    import pyspark.sql.functions as F

    from glre_spark.operators.kgops import _sign_buckets
    from glre_spark.operators import load

    emb = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    buckets = _sign_buckets(emb)
    qb = buckets.filter("vec_id = 0").select(
        F.col("tbl").alias("qtbl"), F.col("bkt").alias("qbkt")
    )
    n_cand = (
        buckets.filter("vec_id != 0")
        .join(qb, (F.col("tbl") == F.col("qtbl")) & (F.col("bkt") == F.col("qbkt")))
        .select("vec_id")
        .distinct()
        .count()
    )
    assert 10 <= n_cand < n, f"candidates {n_cand} of {n} — no pruning"


def test_ivf_recall_vs_brute_force(spark):
    """ann_ivf_topk must recover ≥0.75 of the brute-force top-10 while
    probing only _IVF_PROBE of _IVF_K partitions (measured 0.8 at both
    sf0.001 and sf0.01 on this weakly-clustered corpus)."""
    from glre_spark.operators.kgops import ann_cosine_topk, ann_ivf_topk

    brute = {r.vec_id for r in ann_cosine_topk(spark, SF_DIR).collect()}
    ivf = {r.vec_id for r in ann_ivf_topk(spark, SF_DIR).collect()}
    assert len(brute) == 10
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.75, f"IVF recall {recall} < 0.75"


def test_embedding_neardup_recall(spark):
    """dedup_embedding_cosine must recover ≥0.8 of ALL true pairs at the
    threshold (brute-force numpy oracle over the full corpus)."""
    import numpy as np

    from glre_spark.operators.kgops import _EDUP_THRESH, dedup_embedding_cosine

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").orderBy("vec_id")
    E = np.array([np.array(r.embedding, dtype=np.float64) for r in emb.collect()])
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    C = En @ En.T
    np.fill_diagonal(C, 0)
    ii, jj = np.where(np.round(C + 1e-9, 4) >= _EDUP_THRESH)
    truth = {(int(a), int(b)) for a, b in zip(ii, jj) if a < b}
    got = {(r.id_a, r.id_b) for r in dedup_embedding_cosine(spark, SF_DIR).collect()}
    assert got <= truth, f"false positives: {sorted(got - truth)[:5]}"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"near-dup recall {recall:.2f} < 0.8 ({len(got)}/{len(truth)})"


def test_embedding_neardup_drops_oversized_blocks(spark, tmp_path):
    """_EDUP_CAP + 1 identical vectors share every table bucket, so each of
    their blocks is over the cap: dedup_embedding_cosine must pair none of
    them (uncapped, they would add C(129, 2) cos-1.0 pairs), still pair the
    rest of the corpus, and match its DuckDB twin on the fixture."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from glre_spark.operators.kgops import _EDUP_CAP, dedup_embedding_cosine
    from tests.oracle_util import TABLES, compare, duck_run

    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    base = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    hot_vec = np.random.default_rng(7).standard_normal(64).astype(np.float32).tolist()
    hot_ids = list(range(1_000_000, 1_000_000 + _EDUP_CAP + 1))
    hot = pa.table(
        {
            "vec_id": hot_ids,
            "embedding": [hot_vec] * len(hot_ids),
            "label": [0] * len(hot_ids),
        },
        schema=base.schema,
    )
    pq.write_table(pa.concat_tables([base, hot]), tmp_path / "embeddings.parquet")

    got = dedup_embedding_cosine(spark, str(tmp_path))
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    hot_set = set(hot_ids)
    assert pairs, "the cap must drop only the oversized blocks"
    assert not {p for p in pairs if hot_set & set(p)}, "a pair from an over-cap block"
    problems = compare(got, duck_run(str(tmp_path), REGISTRY["dedup_embedding_cosine"][1]))
    assert not problems, "; ".join(problems)
