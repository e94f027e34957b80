"""The vectorized per-document inference stage (SURVEY.md §2.11).

One ``mapInPandas`` over the (url, text) projection: Arrow batches in,
prediction rows out. Weights ride a Spark broadcast and are materialized
once per Python worker (init-once pattern, SURVEY.md §4.3) — never
per-batch, never per-row.

Scale notes: documents are independent → embarrassingly parallel; the
stage preserves the upstream url-hash partitioning (no shuffle), so its
task count is the width of pipeline.latest_per_url's url exchange (one
partition per core). A Python worker holds one Arrow batch at a time (at
most session.ARROW_MAX_RECORDS_PER_BATCH docs): the first-level collapse
runs per batch and keeps nothing across batches, so worker memory does
not grow with docs per task.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from glre_spark.model import GLREModel, build_weights
from glre_spark.model.net import REL_IDS


def _get_model(weights=None) -> GLREModel:
    return GLREModel(build_weights() if weights is None else weights)


LEAN_SCHEMA = (
    "h_name string, r string, t_name string, score double, url string, "
    "n_pred_rows long"
)
_REL = np.array(REL_IDS, dtype=object)


def infer_stage_agg(
    df: DataFrame,
    weights_bc,
    extract_html: bool = False,
    group_col: str | None = None,
) -> DataFrame:
    """(…, url, text|html) → per-Arrow-batch aggregated predictions
    (h_name, r, t_name, score, url, n_pred_rows), scored with the weight
    dict ``weights_bc`` broadcasts (``broadcast_weights``).

    With ``extract_html=True`` the i1 extraction step runs INSIDE this same
    Arrow stage (SURVEY.md §2.11: i1-i12 are one fused mapInPandas) — html
    crosses the JVM↔Python boundary exactly once and no intermediate text
    column is shuffled. The first-level (h_name, r, t_name) → (max score,
    min url, count) aggregation also runs INSIDE the stage, per Arrow
    batch (at most session.ARROW_MAX_RECORDS_PER_BATCH docs): the batch's
    prediction records become one frame (names gathered by doc offset, no
    per-prediction Python), one groupby collapses it, and the result is
    yielded before the next batch is read. Traced kg_build (seed 42, ~80
    docs per partition, one batch each) sends 32,797 stage rows for
    47,419 predictions (1.45×); at sf0.1 (~1,000 docs per partition, 4
    batches each) 41,063 rows for 45,815. After per-row linking, the one
    map-side-combining (subj, pred, obj) aggregation merges batches and
    partitions (linking.dedup_triples: max / min / sum are associative).

    ``group_col`` (e.g. lineage bucket_group, or the streaming crawl_key)
    joins the agg key and rides through with its input Spark type — the
    checkpointed single-pass run partitions its sink by it."""
    from glre_spark.extract import extract_text
    from glre_spark.nlp import analyze

    keys = ["h_name", "r", "t_name", *([group_col] if group_col else [])]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _get_model(weights_bc.value)
        for pdf in batches:
            if extract_html:
                texts = (extract_text(h) for h in pdf["html"])
            else:
                texts = (t or "" for t in pdf["text"])
            urls = pdf["url"].to_numpy(dtype=object)
            docs = [analyze(url, text) for url, text in zip(urls, texts)]
            # per-doc graph stage; the pair tail runs across docs in
            # chunks of model.net.TAIL_PAIRS gated pairs
            preds = model.predict_batch(docs)
            rec = np.concatenate(preds)
            doc = np.repeat(np.arange(len(docs)), [len(p) for p in preds])
            n_ent = np.array([len(d.entity_names) for d in docs], dtype=np.int64)
            ent = (np.cumsum(n_ent) - n_ent)[doc]
            names = np.array([n for d in docs for n in d.entity_names], dtype=object)
            # min url as an int64 rank into the batch's sorted urls:
            # pandas' min over an object column compares row by row in Python
            url_rank, by_rank = pd.factorize(urls, sort=True)
            pred = pd.DataFrame({
                "h_name": names[ent + rec["h"]],
                "r": _REL[rec["rel"]],
                "t_name": names[ent + rec["t"]],
                "score": rec["score"],
                "url": url_rank[doc],
            })
            if group_col:
                pred[group_col] = pdf[group_col].to_numpy()[doc]
            out = pred.groupby(keys, sort=False, dropna=False).agg(
                score=("score", "max"), url=("url", "min"), n_pred_rows=("score", "size"),
            ).reset_index()
            # Python's correctly rounded round(x, 6), once per output row: it
            # is monotone, so round(max) == max of the rounded scores
            out["score"] = [round(x, 6) for x in out["score"].tolist()]
            out["url"] = by_rank[out["url"].to_numpy()]
            yield out[[*keys[:3], "score", "url", "n_pred_rows", *keys[3:]]]

    cols = ["url", "html" if extract_html else "text"]
    schema = LEAN_SCHEMA
    if group_col:
        cols.append(group_col)
        schema = f"{LEAN_SCHEMA}, {group_col} {df.schema[group_col].dataType.simpleString()}"
    return df.select(*cols).mapInPandas(fn, schema)


def broadcast_weights(spark):
    """Ship the frozen weight dict to executors once (broadcast_sidecar,
    SURVEY.md §2.1)."""
    return spark.sparkContext.broadcast(build_weights())
