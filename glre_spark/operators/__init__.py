"""Operator registry backing ``__spark_entry__.queries()`` /
``oracle_sql()`` (driver contract; SURVEY.md §2).

Each operator registers a (spark, sf_dir) → DataFrame callable plus an
equivalent DuckDB SQL string (or None for non-SQL-expressible ops, which
the driver checks rows-only). Conventions (SURVEY.md §3.3):

- alias every computed column identically on both sides;
- cast away engine-specific widths (DuckDB SUM(BIGINT) → HUGEINT, Spark
  row_number → int, …);
- round floating aggregates (2-4 dp) so both engines land on the same
  double bit pattern for the driver's value-hash;
- deterministic tie-breaks everywhere a LIMIT/top-k can tie.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def op(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def staging_root(spark: SparkSession) -> str:
    """This application's staging root under the warehouse dir. Every
    layout an op stages lives here, and the root is deleted when the
    driver exits: synchronously at Python interpreter exit, and by Hadoop
    ``deleteOnExit`` at JVM exit in case the Python driver was killed.
    Both go through the Hadoop FileSystem, so a URI-scheme warehouse is
    cleaned too. Keying on the applicationId keeps two apps sharing one
    warehouse apart."""
    import atexit

    sc = spark.sparkContext
    wh = spark.conf.get("spark.sql.warehouse.dir")
    root = f"{wh.rstrip('/')}/_staging_{sc.applicationId}"
    jpath = sc._jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        fs.mkdirs(jpath)
        fs.deleteOnExit(jpath)
        atexit.register(fs.delete, jpath, True)
    return root


def staging_dir(spark: SparkSession, name: str) -> str:
    """A fresh, never-before-used directory for one staged layout. Each
    call gets its own dir, so a rebuild never touches files a DataFrame
    built earlier still lists."""
    import uuid

    return f"{staging_root(spark)}/{name}_{uuid.uuid4().hex[:12]}"


def fround(col, d: int = 4):
    """Engine-stable rounding: +1e-9 nudges half-way values off the
    boundary (Spark rounds HALF_UP on the decimal string, DuckDB on the
    binary double — they disagree exactly at .5), +0.0 normalizes -0.0.
    Oracle twin: ``ROUND(x + 1e-9, d) + 0``."""
    from pyspark.sql import functions as F

    return F.round(col + F.lit(1e-9), d) + F.lit(0.0)


def cents(col):
    """Fixed-point lift: money/metric doubles → exact BIGINT hundredths
    (order-independent sums — float SUM order differs across
    engines/partitions). Oracle twin: ``CAST(ROUND(x * 100) AS BIGINT)``."""
    from pyspark.sql import functions as F

    return F.round(col * 100, 0).cast("bigint")


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {k: v[0] for k, v in REGISTRY.items()}


# Side-effect hooks run when the oracle SQL set is handed out: an oracle
# that reads a file the OP normally materializes (scan_docred_json's
# nested-JSON corpus) registers a prep here so the file exists even if the
# driver runs DuckDB before the Spark query.
_ORACLE_PREP: list[Callable[[], None]] = []


def all_oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    for prep in _ORACLE_PREP:
        prep()
    return {k: v[1] for k, v in REGISTRY.items() if v[1] is not None}


_LOADED = False

# Driver-window priority. The driver's CORRECTNESS snapshot takes the first
# 50 ``queries()`` entries in registry order. Round-6 rotation (VERDICT r5
# next-round #5): ops new or code/oracle-touched in r6 register FIRST (the
# sketch keeper + the MATERIALIZED-hinted oracle family, the
# tolerance-twinned approx-distinct, scan_docred_json's relocated corpus
# path, the streaming/lineage/pipeline modules' heal+guard changes); then
# the ops whose latest driver evidence is oldest (the r3-proven scalar-fn
# / text / UDTF set); then the r4-proven scan/filter/join/agg/str
# families that r5's window pushed out. Everything r5-proven and
# untouched slides to the tail. Names absent from this list keep their
# module-import order after it.
_PRIORITY: list[str] = [
    # -- new in r6 session 2: KG graph analytics (§2.14) + sampling/stats --
    "filter_gopher_rules",
    "vocab_topk_zipf",
    "kg_neighbor_jaccard",
    "kg_degree_entropy",
    "q3_shipping_priority",
    "join_bucketed_colocated",
    "domain_stats_stream",
    "sample_frac",
    "agg_percentiles",
    "scan_partition_pruned",
    "scan_dynamic_pruned",
    "scan_nested_pruned",
    "sample_stratified",
    "domain_stats",
    "kg_cooccur_edges",
    "kg_degree_stats",
    "kg_pagerank",
    "kg_edge_pmi",
    "kg_2hop_reach",
    "kg_triangle_count",
    # -- new or touched in r6 (20) --
    "text_repetition_score",   # NEW: Gopher-style repetition filter
    "url_normalize_dedup",     # NEW: URL canonicalization + crawl dedup
    "text_boilerplate_strip",  # NEW: CCNet-style cross-doc chunk removal
    "text_unigram_logprob",    # NEW: CCNet-style LM quality filter
    "dedup_keeper_sketch",     # NEW: KMV bottom-k keeper, exact twin
    "agg_approx_distinct",     # NEW TWIN: tolerance check inside the query
    "minhash_sig",             # oracle CTEs now MATERIALIZED
    "lsh_band",
    "lsh_candidates",
    "dedup_ngram_jaccard",
    "dedup_keeper_table",
    "scan_docred_json",        # corpus path moved /tmp → repo .cache
    "dedup_events_stream",     # streaming module touched (warc guard, heal)
    "compact_stream_triples",
    "ckpt_manifest",           # lineage torn-write heal
    "resume_filter",
    "sink_triples",            # pipeline keeper-id change (url keys)
    "sink_entities",
    "sink_metrics",
    "glre_infer_triples",      # pipeline module touched; kernel-claim re-proof
    "glre_extract_text",
    "udf_grouped_map",         # shares the candidate CTE path
    # -- oldest driver evidence (r3) (7) --
    "json_fns",
    "text_token_count",
    "text_quality_score",
    "text_langid",
    "text_fingerprint",
    "udf_grouped_agg",
    "udtf_sent_split",
    # -- r4-proven, pushed out of the r5 window (fill to 50) --
    "scan_parquet",
    "scan_pages",
    "project_select",
    "filter_lang",
    "filter_pred",
    "filter_len",
    "join_inner_eq",
    "join_broadcast",
    "join_salted_skew",
    "join_left_semi",
    "join_left_anti",
    "join_outer",
    "join_theta_range",
    "join_asof",
    "join_self_block",
    "join_cross_small",
    "agg_groupby",
    "agg_count_distinct",
    "agg_collect_list",
    "agg_grouping_sets",
    "agg_pivot",
    "agg_distinct_rows",
    "str_normalize",
    "str_split_tokens",
    "str_shingle",
    # -- just past the window: next round's rotation front --
    "str_concat_fmt",
    "hash_fns",
    "sort_global",
    "limit_topn",
    "set_union",
    "sort_within_part",
    "repartition_urlhash",
    "dedup_exact",
    "split_holdout",
    "udf_scalar_pandas",
    "udf_iter_pandas",
    # -- tail: r5-proven, unchanged since their green rows --
    "glre_cluster_entities",
    "glre_entity_table",
    "stateful_user_totals",
    "simhash_dedup",
    "text_pii_redact",
    "decontaminate_ngrams",
    "mm_image_ahash",
    "mm_image_meta",
    "mm_frame_sample",
    "mm_audio_features",
    "set_intersect",
    "set_except",
    "link_alias_broadcast",
    "cc_label_prop",
    "canonicalize",
    "dedup_triples",
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "dedup_embedding_cosine",
    "win_rownum_topk",
    "win_rank_dense",
    "win_lag_lead",
    "win_frame_agg",
    "win_ntile_pct",
    "win_tumbling",
    "win_sliding",
    "win_session",
    "date_fns",
    "math_fns",
    "arr_explode",
    "arr_fns",
    "map_fns",
]


def _ensure_loaded() -> None:
    global _LOADED
    if not _LOADED:
        # import for registration side effects
        from glre_spark.operators import (  # noqa: F401
            aggs,
            graphops,
            joins,
            kgops,
            mm_ops,
            scans,
            sets_sorts,
            sinks_ops,
            streaming_ops,
            textops,
            udfops,
            windows_ops,
        )

        ordered = {n: REGISTRY[n] for n in _PRIORITY if n in REGISTRY}
        ordered.update((n, v) for n, v in REGISTRY.items() if n not in ordered)
        REGISTRY.clear()
        REGISTRY.update(ordered)
        _LOADED = True
