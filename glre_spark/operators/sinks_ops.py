"""Sink / checkpoint operators (SURVEY.md §2.1, §2.9): each op WRITES to a
scratch target through the real sink path (glre_spark.io / lineage), then
RE-SCANS the written files and returns an observable summary — the
write-then-rescan verification SURVEY §2.1 prescribes. The summaries are
SQL-expressible wherever the written content is (sink_triples,
sink_entities, sink_metrics → full oracle rows; ckpt_manifest runs the
inference pipeline → rows-only).

sink_triples and sink_entities write kgops.lineitem_triples
(linking.dedup_triples over lineitem stand-in triples); the entity
dimension is io.entity_table, the checkpointed run
lineage.run_with_checkpoints.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from glre_spark.operators import load, op
from glre_spark.operators.kgops import LINEITEM_TRIPLES_SQL, lineitem_triples


def _scratch(prefix: str) -> str:
    # fresh per invocation; the op re-reads everything it writes, so the
    # driver's repeated calls never interfere with each other
    return tempfile.mkdtemp(prefix=prefix)


@op(
    "sink_triples",
    f"""WITH t AS ({LINEITEM_TRIPLES_SQL})
       SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(n_sources) AS BIGINT) AS n_sources
       FROM t GROUP BY pred""",
)
def sink_triples_op(spark, sf_dir):
    """Write triples through io.sink_triples (partitionBy pred, clustered
    by subj), re-scan the partitioned output, return the per-partition
    histogram. Written twice → overwrite idempotence is part of the check:
    the re-scan must see exactly one copy."""
    from glre_spark.io import sink_triples

    target = _scratch("sink_triples_")
    try:
        triples = lineitem_triples(spark, sf_dir)
        sink_triples(spark, triples, target)
        sink_triples(spark, triples, target)  # idempotent overwrite
        return (
            spark.read.parquet(target)
            .groupBy("pred")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum("n_sources").cast("bigint").alias("n_sources"),
            )
            .localCheckpoint(eager=True)  # detach result from the scratch files
        )
    finally:
        shutil.rmtree(target, ignore_errors=True)


@op(
    "sink_entities",
    f"""WITH t AS ({LINEITEM_TRIPLES_SQL}),
       e AS (SELECT subj AS entity, url FROM t
             UNION ALL SELECT obj AS entity, url FROM t)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_entities,
              CAST(SUM(n_docs) AS BIGINT) AS sum_docfreq
       FROM (SELECT entity, COUNT(DISTINCT url) AS n_docs FROM e GROUP BY entity)""",
)
def sink_entities_op(spark, sf_dir):
    """Materialize the entity dimension (io.entity_table → io.sink_entities),
    re-scan, return its global summary."""
    from glre_spark.io import entity_table, sink_entities

    target = _scratch("sink_entities_")
    try:
        sink_entities(spark, entity_table(lineitem_triples(spark, sf_dir)), target)
        return (
            spark.read.parquet(target)
            .agg(
                F.count("*").cast("bigint").alias("n_entities"),
                F.sum("n_docs").cast("bigint").alias("sum_docfreq"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(target, ignore_errors=True)


@op(
    "sink_metrics",
    """SELECT n_regionkey, CAST(2 * COUNT(*) AS BIGINT) AS n_rows
       FROM nation GROUP BY n_regionkey""",
)
def sink_metrics_op(spark, sf_dir):
    """Append-only metrics sink (io.sink_metrics): two appends of the same
    batch must yield exactly 2× the rows on re-scan — nothing overwritten,
    nothing lost."""
    from glre_spark.io import sink_metrics

    target = _scratch("sink_metrics_")
    try:
        batch = load(spark, sf_dir, "nation").select("n_regionkey", "n_name")
        sink_metrics(spark, batch, target)
        sink_metrics(spark, batch, target)
        return (
            spark.read.parquet(target)
            .groupBy("n_regionkey")
            .agg(F.count("*").cast("bigint").alias("n_rows"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(target, ignore_errors=True)


@op("ckpt_manifest", None)  # runs the inference pipeline → rows-only
def ckpt_manifest_op(spark, sf_dir):
    """Exact-resume machinery end-to-end (SURVEY §2.9): checkpointed run
    over a small synthesized corpus, then return the committed manifest
    (bucket_group, status, input_rows, triples) — all deterministic; the
    random run_id / wall-clock columns are projected out."""
    from glre_spark.datagen import pages_from_docs
    from glre_spark.lineage import read_manifest, run_with_checkpoints

    target = _scratch("ckpt_manifest_")
    try:
        docs = load(spark, sf_dir, "documents").select("doc_id").filter(
            F.col("doc_id") < 80
        )
        pages = pages_from_docs(docs, partitions=4)
        run_with_checkpoints(spark, pages, target, n_groups=4)
        return (
            read_manifest(spark, target)
            .select("bucket_group", "status", "input_rows", "triples")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(target, ignore_errors=True)
