"""Sinks + catalog shim (SURVEY.md §2.1).

The north rule targets partitioned Iceberg outputs; this sandbox has no
Iceberg jars (SURVEY.md §0), so the writer is a 20-line shim: use
``writeTo`` against an Iceberg catalog when one is configured, else
partitioned parquet with an explicit manifest (which doubles as the resume
checkpoint — glre_spark.lineage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    return bool(spark.conf.get("spark.sql.catalog.glre", None))


def sink_triples(spark: SparkSession, triples: DataFrame, target: str) -> None:
    """Partitioned triple sink. Partition by pred (low-cardinality, the
    dominant read filter); files clustered by subj within partitions."""
    df = triples.sortWithinPartitions("pred", "subj")
    if iceberg_available(spark):
        df.writeTo(f"glre.{target}").partitionedBy(F.col("pred")).createOrReplace()
    else:
        df.write.mode("overwrite").partitionBy("pred").parquet(target)


def sink_entities(spark: SparkSession, entities: DataFrame, target: str) -> None:
    if iceberg_available(spark):
        entities.writeTo(f"glre.{target}").createOrReplace()
    else:
        entities.write.mode("overwrite").parquet(target)


def sink_metrics(spark: SparkSession, metrics: DataFrame, target: str) -> None:
    """Append-only per-partition metrics (lineage rows carry
    spark_partition_id so balance is auditable per run)."""
    metrics.write.mode("append").parquet(target)


def entity_table(triples: DataFrame) -> DataFrame:
    """Entity dimension from the triple stream: every subj/obj with
    ``n_docs``, the number of distinct witness urls among its deduped
    triples (north_star's entity table). dedup_triples keeps one url (the
    min) per (subj, pred, obj), so a triple seen in five documents adds
    one url: ``n_docs`` is a lower bound on document frequency, not the
    frequency itself."""
    subj = triples.select(F.col("subj").alias("entity"), "url")
    obj = triples.select(F.col("obj").alias("entity"), "url")
    return (
        subj.unionByName(obj)
        .groupBy("entity")
        .agg(F.countDistinct("url").cast("bigint").alias("n_docs"))
    )
