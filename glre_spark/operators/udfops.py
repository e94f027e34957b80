"""Pandas-UDF surface operators (SURVEY.md §2.11 udf_*): grouped-map
(applyInPandas), grouped-agg, and the nested DocRED JSON scan. These are
the operator-level proofs of the UDF patterns the inference stage uses."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F

from glre_spark.linking import capped_blocks
from glre_spark.operators import _ORACLE_PREP, load, op
from glre_spark.operators.kgops import NGRAM_JACCARD_SQL, doc_bands


# same contract as dedup_ngram_jaccard's relational verify: exact 3-gram
# jaccard over the capped LSH candidate pairs
@op("udf_grouped_map", NGRAM_JACCARD_SQL)
def udf_grouped_map(spark, sf_dir):
    """groupBy(LSH band bucket).applyInPandas — per-block pairwise jaccard
    verification in vectorized pandas (the §2.12 verify-step as a
    grouped-map UDF). Blocks on the size-capped ``band_hash`` table shared
    with lsh_candidates/dedup_ngram_jaccard: a content-signature key, so a
    uniform-length corpus cannot flood one block the way the earlier
    exact-n_chars key could, and block size is bounded by MAX_LSH_BLOCK.
    Pairs co-bucketed in several bands emit identical rows → distinct()."""

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        docs = sorted(zip(pdf["doc_id"], pdf["text"]))
        shs = [
            (i, {t[k : k + 3] for k in range(max(len(t) - 2, 1))})
            for i, t in docs
        ]
        for x in range(len(shs)):
            for y in range(x + 1, len(shs)):
                ia, sa = shs[x]
                ib, sb = shs[y]
                j = len(sa & sb) / len(sa | sb)
                rows.append((int(ia), int(ib), round(j + 1e-9, 4) + 0))
        return pd.DataFrame(rows, columns=["id_a", "id_b", "jaccard"]).astype(
            {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
        )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    blocks = capped_blocks(doc_bands(spark, sf_dir)).join(docs, "doc_id")
    return (
        blocks.groupBy("band_id", "band_hash")
        .applyInPandas(block_pairs, "id_a long, id_b long, jaccard double")
        .distinct()
    )


@op(
    "udf_grouped_agg",
    """SELECT user_id,
              ROUND(sqrt(SUM(value * value) / COUNT(*)) + 1e-9, 4) + 0 AS rms_value
       FROM events GROUP BY user_id""",
)
def udf_grouped_agg(spark, sf_dir):
    """Grouped-aggregate pandas UDF (custom UDAF surface): per-user RMS."""
    import numpy as np

    @F.pandas_udf("double")
    def rms(v: pd.Series) -> float:
        return float(np.sqrt((v * v).sum() / len(v)))

    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        (F.round(rms("value") + F.lit(1e-9), 4) + F.lit(0.0)).alias("rms_value")
    )


# Deterministic materialization path for the DocRED-format corpus: both
# the Spark op and its DuckDB oracle read THIS file, so the twin checks
# the nested-ingest path itself (schema projection + label flattening)
# rather than re-deriving model predictions (SQL can't). Versioned name:
# bump if the rendered content ever changes, so a stale file from an
# older code revision can't poison either side. Under the REPO's own
# cache dir, not world-writable /tmp: a fixed /tmp name trusted on
# existence could be pre-planted/symlinked by any local user and would
# feed BOTH engines, making the twin check blind to the poisoning
# (ADVICE r5).
import os as _os

_DOCRED_PATH = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    ".cache", "glre_docred_corpus_v1.json",
)


def _materialize_docred(path: str = _DOCRED_PATH) -> str:
    """Write the 40-doc DocRED-shaped nested JSON (deterministic: frozen
    model over gen_pages(40)); returns the path. Rebuilt on every call: a
    file left by an earlier model would feed stale labels to the op and
    its DuckDB twin alike, and both would still agree."""
    import json
    import os
    import uuid

    os.makedirs(os.path.dirname(path), exist_ok=True)
    from glre_spark.datagen import gen_pages
    from glre_spark.model import GLREModel, build_weights
    from glre_spark.model.net import REL_IDS
    from glre_spark.nlp import analyze

    pages = gen_pages(40)
    analyzed = [analyze(p["url"], p["text"]) for p in pages]
    preds = GLREModel(build_weights()).predict_batch(analyzed)
    docs = []
    for p, doc, rec in zip(pages, analyzed, preds):
        docs.append(
            {
                "title": p["url"],
                "sents": doc.sents,
                "vertexSet": [
                    [
                        {
                            "name": doc.mentions[mi].name,
                            "sent_id": doc.mentions[mi].sent_id,
                            "pos": [doc.mentions[mi].start, doc.mentions[mi].end],
                            "type": doc.mentions[mi].type,
                        }
                        for mi in cluster
                    ]
                    for cluster in doc.entities
                ],
                "labels": [
                    {"h": h, "t": t, "r": REL_IDS[r], "evidence": []}
                    for h, t, r, _ in rec.tolist()
                ],
            }
        )
    tmp = f"{path}.{os.getpid()}.{uuid.uuid4().hex}.tmp"  # one per writer
    with open(tmp, "w") as f:
        json.dump(docs, f)
    os.replace(tmp, path)  # atomic: concurrent callers see whole files only
    return path


_ORACLE_PREP.append(_materialize_docred)


@op(
    "scan_docred_json",
    # r5 (VERDICT r4 #6, was rows-only): both engines read the SAME
    # deterministic nested-JSON file and flatten labels. explode_outer's
    # keep-one-NULL-row-for-empty behavior is mirrored by UNIONing an
    # all-NULL row per zero-label doc (NOT a title join — titles are urls
    # and the corpus contains recrawls, so titles are non-unique and a
    # join would fan out).
    f"""WITH d AS (
  SELECT * FROM read_json('{_DOCRED_PATH}', format = 'array')
),
flat AS (SELECT title, UNNEST(labels) AS l FROM d)
SELECT title,
       CAST(l.h AS INTEGER) AS h,
       CAST(l.t AS INTEGER) AS t,
       CAST(l.r AS VARCHAR) AS r
FROM flat
UNION ALL
SELECT title, NULL::INTEGER, NULL::INTEGER, NULL::VARCHAR
FROM d WHERE len(labels) = 0""",
)
def scan_docred_json(spark, sf_dir):
    """DocRED-format nested JSON ingest (SURVEY.md §2.1): the corpus
    rendered as {title, sents, vertexSet, labels} rows, read back with an
    explicit nested schema and flattened to per-label rows."""
    tmp = _materialize_docred()
    schema = (
        "title string, sents array<array<string>>, "
        "vertexSet array<array<struct<name:string, sent_id:int, pos:array<int>, type:string>>>, "
        "labels array<struct<h:int, t:int, r:string, evidence:array<int>>>"
    )
    df = spark.read.json(tmp, schema=schema, multiLine=True)
    return (
        df.select("title", F.explode_outer("labels").alias("l"))
        .select(
            "title",
            F.col("l.h").alias("h"),
            F.col("l.t").alias("t"),
            F.col("l.r").alias("r"),
        )
    )


@op(
    "udf_scalar_pandas",
    # fround convention: ROUND(x + 1e-9, 4) + 0 (pandas .round is binary
    # half-even, Spark/DuckDB round on decimals — the nudge moves exact
    # halves off the boundary for all three)
    """SELECT doc_id,
              ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                    / (length(text) - length(replace(text, ' ', '')) + 1) + 1e-9, 4)
                + 0 AS avg_tok_len
       FROM documents""",
)
def udf_scalar_pandas(spark, sf_dir):
    """Scalar Series→Series pandas UDF surface (§2.11), value-checked: per
    document, average token length = non-space chars / (spaces + 1),
    computed with vectorized pandas string kernels (no per-row Python).
    The UDF returns the RAW ratio; rounding goes through the shared fround
    helper engine-side (pandas .round is binary half-even — a third
    rounding regime the oracle convention exists to avoid). The
    distributed HTML→text extractor (the production scalar-UDF user,
    extract.extract_text_udf) keeps its byte-identical check in
    glre_extract_text; this op is the surface's DuckDB-twinned proof."""
    from glre_spark.operators import fround

    @F.pandas_udf("double")
    def avg_tok_len(s: pd.Series) -> pd.Series:
        t = s.fillna("")
        spaces = t.str.count(" ")
        return (t.str.len() - spaces) / (spaces + 1)

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", fround(avg_tok_len(F.col("text"))).alias("avg_tok_len")
    )


@op(
    "udf_iter_pandas",
    """SELECT doc_id,
              CAST(length(regexp_replace(text, '[^.!?]', '', 'g')) AS INTEGER)
                AS n_terminators
       FROM documents""",
)
def udf_iter_pandas(spark, sf_dir):
    """Iterator[pd.Series]→Iterator[pd.Series] pandas UDF (init-once
    pattern, §2.11), value-checked: the sentence-terminator pattern is
    compiled ONCE per worker (the expensive-init slot where the inference
    stage deserializes model weights) and reused across every Arrow batch;
    the per-batch kernel is a vectorized C regex count."""

    @F.pandas_udf("int")
    def n_terminators(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        pat = re.compile(r"[.!?]")  # init-once per worker, shared by batches
        for s in it:
            yield s.fillna("").str.count(pat).astype("int32")

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", n_terminators(F.col("text")).alias("n_terminators")
    )


@op(
    "udtf_sent_split",
    # full SQL twin of nlp.sent_split: tokens = non-empty single-space
    # splits; a sentence = token run ending at ./!/? (trailing run counts)
    """WITH toks AS (
         SELECT doc_id, UNNEST(arr) AS tok,
                UNNEST(range(1, len(arr) + 1)) AS i
         FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents)
       ),
       marked AS (
         SELECT doc_id, tok, i,
                CAST(COALESCE(SUM(CASE WHEN tok IN ('.', '!', '?') THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS INTEGER) AS sent_id
         FROM toks WHERE tok <> ''
       )
       SELECT doc_id, sent_id,
              string_agg(tok, ' ' ORDER BY i) AS sent,
              CAST(COUNT(*) AS INTEGER) AS n_tokens
       FROM marked GROUP BY doc_id, sent_id""",
)
def udtf_sent_split(spark, sf_dir):
    """Spark 4 Python UDTF (§2.11, optional): doc → sentence rows via a
    LATERAL table-function join — the doc→triples fan-out shape as a TVF.
    Output parity with nlp.sent_split is asserted in tests/test_udtf.py;
    the DuckDB twin recomputes the split relationally (running count of
    sentence-terminator tokens)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_id int, sent string, n_tokens int")
    class SentSplit:
        def eval(self, text: str):
            from glre_spark.nlp import sent_split, tokenize

            for i, toks in enumerate(sent_split(tokenize(text or ""))):
                yield i, " ".join(toks), len(toks)

    spark.udtf.register("glre_sent_split", SentSplit)
    load(spark, sf_dir, "documents").createOrReplaceTempView("_docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, s.sent_id, s.sent, s.n_tokens "
        "FROM _docs_udtf d, LATERAL glre_sent_split(d.text) s"
    )


@op("sort_within_part", None)  # physical layout op → rows-only
def sort_within_part(spark, sf_dir):
    """sortWithinPartitions before a partitioned write (file clustering,
    §2.6); observable output: per-partition row counts + min/max key of
    the clustered layout."""
    li = load(spark, sf_dir, "lineitem").repartition(8, "l_returnflag")
    sorted_parts = li.sortWithinPartitions("l_returnflag", "l_orderkey")
    return (
        sorted_parts.select(F.spark_partition_id().alias("pid"), "l_orderkey")
        .groupBy("pid")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
        )
    )
