"""The vectorized per-document inference stage (SURVEY.md §2.11).

One ``mapInPandas`` over the (url, text) projection: Arrow batches in,
prediction rows out. Weights ride a Spark broadcast and are materialized
once per Python worker (init-once pattern, SURVEY.md §4.3) — never
per-batch, never per-row.

Scale notes: documents are independent → embarrassingly parallel; the
stage preserves the upstream url-hash partitioning (no shuffle), so its
task count is the width of pipeline.latest_per_url's url exchange
(session.stage_width); Arrow batch size is capped in session.py so fat
rows stay allocation-bounded.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from glre_spark.model import GLREModel, build_weights
from glre_spark.model.weights import MODEL_SEED

_MODEL_CACHE: dict[bytes, GLREModel] = {}


def _weights_key(weights) -> bytes:
    """Cheap content fingerprint: one small tensor's bytes. Keying the
    warm-worker cache on the DEFAULT seed would silently ignore non-default
    broadcast weights; ff2_b-independent draws make ff1_w seed-unique."""
    return weights["ff1_w"].tobytes()[:256]


def _get_model(weights=None, seed: int = MODEL_SEED) -> GLREModel:
    if weights is None:
        weights = build_weights(seed)
    key = _weights_key(weights)
    model = _MODEL_CACHE.get(key)
    if model is None:
        model = GLREModel(weights)
        _MODEL_CACHE[key] = model
    return model


LEAN_SCHEMA = (
    "h_name string, r string, t_name string, score double, url string, "
    "n_pred_rows long"
)


def infer_stage_agg(
    df: DataFrame,
    weights_bc=None,
    text_col: str = "text",
    extract_html: bool = False,
    group_col: str | None = None,
    group_type: str = "int",
) -> DataFrame:
    """(…, url, text|html) → per-partition aggregated predictions
    (h_name, r, t_name, score, url, n_pred_rows).

    With ``extract_html=True`` the i1 extraction step runs INSIDE this same
    Arrow stage (SURVEY.md §2.11: i1-i12 are one fused mapInPandas) — html
    crosses the JVM↔Python boundary exactly once and no intermediate text
    column is shuffled. The first-level (h_name, r, t_name) → (max score,
    min url, count) aggregation also runs INSIDE the stage, per
    partition. At ~150 predictions/doc the raw stream is ~3× larger than
    the partition-distinct surface; collapsing before the Arrow boundary
    cuts python→JVM transfer and the downstream shuffle by the same
    factor. After per-row linking, the one map-side-combining
    (subj, pred, obj) aggregation merges partitions
    (linking.dedup_triples).

    ``group_col`` (e.g. lineage bucket_group, or the streaming crawl_key)
    joins the agg key and rides through — the checkpointed single-pass run
    partitions its sink by it; ``group_type`` is its Spark type ("int" or
    "string")."""
    from glre_spark.extract import extract_text
    from glre_spark.nlp import analyze

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _get_model(weights_bc.value if weights_bc is not None else None)
        acc: dict[tuple, list] = {}  # (grp?,h,r,t) -> [max_score, min_url, n]
        for pdf in batches:
            if extract_html:
                texts = (extract_text(h) for h in pdf["html"])
            else:
                texts = (t or "" for t in pdf["text"])
            groups = pdf[group_col] if group_col else None
            urls = list(pdf["url"])
            docs = [analyze(url, text) for url, text in zip(urls, texts)]
            # one cross-document batched pair pass (model.predict_batch)
            for i, (url, doc, preds) in enumerate(
                zip(urls, docs, model.predict_batch(docs))
            ):
                names = doc.entity_names
                if group_col:
                    grp = (
                        str(groups.iloc[i])
                        if group_type == "string"
                        else int(groups.iloc[i])
                    )
                else:
                    grp = 0
                for h, t, rel, score in preds:
                    key = (grp, names[h], rel, names[t])
                    cur = acc.get(key)
                    score = round(score, 6)
                    if cur is None:
                        acc[key] = [score, url, 1]
                    else:
                        if score > cur[0]:
                            cur[0] = score
                        if url < cur[1]:
                            cur[1] = url
                        cur[2] += 1
        keys = list(acc.keys())
        out = {
            "h_name": pd.Series([k[1] for k in keys], dtype="object"),
            "r": pd.Series([k[2] for k in keys], dtype="object"),
            "t_name": pd.Series([k[3] for k in keys], dtype="object"),
            "score": pd.Series([acc[k][0] for k in keys], dtype=np.float64),
            "url": pd.Series([acc[k][1] for k in keys], dtype="object"),
            "n_pred_rows": pd.Series([acc[k][2] for k in keys], dtype=np.int64),
        }
        if group_col:
            out[group_col] = pd.Series(
                [k[0] for k in keys],
                dtype="object" if group_type == "string" else np.int32,
            )
        yield pd.DataFrame(out)

    cols = ["url", df["html"]] if extract_html else ["url", df[text_col].alias("text")]
    schema = LEAN_SCHEMA
    if group_col:
        cols.append(group_col)
        schema = f"{LEAN_SCHEMA}, {group_col} {group_type}"
    return df.select(*cols).mapInPandas(fn, schema)


def broadcast_weights(spark, seed: int = MODEL_SEED):
    """Ship the frozen weight dict to executors once (broadcast_sidecar,
    SURVEY.md §2.1)."""
    return spark.sparkContext.broadcast(build_weights(seed))
