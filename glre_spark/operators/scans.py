"""Scans, sources, projections, filters (SURVEY.md §2.1-2.2).

``pages_view`` derives the north-rule pages shape from the driver's
``documents`` table with engine-portable expressions, so the DuckDB oracle
can compute the identical table from its pre-registered views (the shared
CTE below). The html column is only present in the synthesized corpus
(datagen) — relational ops here never touch it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glre_spark.operators import fround, load, op, staging_dir

# Shared Spark/DuckDB derivation of pages from documents (SURVEY.md §3.3).
PAGES_CTE = """
WITH pages AS (
  SELECT concat('https://host', CAST(doc_id % 50 AS VARCHAR), '.example/p/',
                CAST(doc_id % 4000 AS VARCHAR)) AS url,
         make_timestamp(1704067200000000 + (doc_id % 7) * 86400000000) AS warc_ts,
         text, lang, doc_id
  FROM documents
)
"""


def pages_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        F.concat(
            F.lit("https://host"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(".example/p/"),
            (F.col("doc_id") % 4000).cast("string"),
        ).alias("url"),
        F.timestamp_micros(
            F.lit(1704067200000000) + (F.col("doc_id") % 7) * F.lit(86400000000)
        ).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )


@op("scan_parquet", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_parquet(spark, sf_dir):
    return load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@op("scan_pages", PAGES_CTE + "SELECT url, warc_ts, lang, doc_id FROM pages")
def scan_pages(spark, sf_dir):
    return pages_view(spark, sf_dir).select("url", "warc_ts", "lang", "doc_id")


@op(
    "project_select",
    """SELECT p_partkey AS part_id, p_brand AS brand,
              ROUND(p_retailprice * 1.1 + 1e-9, 2) + 0 AS uplift_price
       FROM part""",
)
def project_select(spark, sf_dir):
    return load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_brand").alias("brand"),
        fround(F.col("p_retailprice") * 1.1, 2).alias("uplift_price"),
    )


@op("filter_lang", PAGES_CTE + "SELECT url, lang, doc_id FROM pages WHERE lang = 'en'")
def filter_lang(spark, sf_dir):
    return (
        pages_view(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select("url", "lang", "doc_id")
    )


@op(
    "filter_pred",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
       FROM lineitem
       WHERE l_quantity > 30 AND l_returnflag IN ('A', 'R')
         AND l_extendedprice BETWEEN 1000 AND 50000
         AND l_shipdate IS NOT NULL""",
)
def filter_pred(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_extendedprice").between(1000, 50000)
        & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@op(
    "filter_len",
    PAGES_CTE
    + """SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len
         FROM pages WHERE length(text) BETWEEN 1 AND 300""",
)
def filter_len(spark, sf_dir):
    return (
        pages_view(spark, sf_dir)
        .filter(F.length("text").between(1, 300))
        .select("doc_id", F.length("text").cast("bigint").alias("text_len"))
    )


def lang_partitioned_path(spark, sf_dir, name: str = "docs_by_lang"):
    """Stage the documents table as a lang-PARTITIONED parquet layout in
    a fresh staging dir and return its path. At 10^12 docs this is the
    ingest-side layout decision that makes every per-language job read
    1/Nth of the data — the pruning is free once the layout exists."""
    path = staging_dir(spark, name)
    load(spark, sf_dir, "documents").write.partitionBy("lang").parquet(path)
    return path


@op(
    "scan_partition_pruned",
    """SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'""",
)
def scan_partition_pruned(spark, sf_dir):
    """Partition pruning, demonstrated rather than cited: the documents
    table staged as a lang-partitioned layout, then a lang='en' filter
    that must resolve at PLANNING time — PartitionFilters on the scan,
    zero rows read from the other four language directories, text never
    in the ReadSchema (both plan-asserted in test_plans). The twin is
    the plain filter over the unpartitioned view: identical rows either
    way, the layout only changes what gets READ."""
    path = lang_partitioned_path(spark, sf_dir, name="docs_by_lang_pp")
    return (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
    )


@op(
    "scan_dynamic_pruned",
    """WITH dim(lang, priority) AS (
         VALUES ('en', 1), ('fr', 2), ('de', 0), ('es', 0), ('zh', 0))
       SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       FROM documents d JOIN dim ON dim.lang = d.lang AND dim.priority > 0
       GROUP BY d.lang""",
)
def scan_dynamic_pruned(spark, sf_dir):
    """DYNAMIC partition pruning: the languages to read are only known
    after filtering a dimension table, so no static PartitionFilter can
    exist — Catalyst instead injects a dynamicpruningexpression into the
    partitioned scan (plan-asserted), and the fact side still skips the
    excluded language directories at runtime. This is the 100-TB shape
    for 'process the partitions some control table selects': the
    selection changes per run, the layout does the skipping."""
    docs = spark.read.parquet(
        lang_partitioned_path(spark, sf_dir, name="docs_by_lang_dpp")
    )
    dim = spark.createDataFrame(
        [("en", 1), ("fr", 2), ("de", 0), ("es", 0), ("zh", 0)],
        "lang string, priority int",
    )
    return (
        docs.join(F.broadcast(dim.filter(F.col("priority") > 0)), "lang")
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


@op(
    "scan_nested_pruned",
    """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars_meta
       FROM documents""",
)
def scan_nested_pruned(spark, sf_dir):
    """Nested schema pruning: documents staged with a fat struct column
    (lang + source + full text inside one struct), then only two leaf
    fields selected — the scan's ReadSchema must contain ONLY those
    leaves (struct<lang, n_chars> — the fat text leaf never read;
    plan-asserted). At 100 TB this is what makes metadata-only passes
    over struct-typed lakes cheap: Parquet's columnar layout serves
    individual struct leaves, but only if the plan asks for leaves
    instead of whole structs."""
    path = staging_dir(spark, "docs_nested")
    load(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct(
            F.col("lang"),
            F.col("source"),
            F.col("text"),
            F.length("text").cast("bigint").alias("n_chars_meta"),
        ).alias("meta"),
    ).write.parquet(path)
    return spark.read.parquet(path).select(
        "doc_id",
        F.col("meta.lang").alias("lang"),
        F.col("meta.n_chars_meta").alias("n_chars_meta"),
    )
