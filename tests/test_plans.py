"""Physical-plan shape assertions (SURVEY.md §4.2): the optimizations we
rely on must actually appear in the plan — filter/column pushdown to the
parquet scan, broadcast joins for dims, no Python UDFs in relational ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glre_spark.datagen import pages_from_docs
from glre_spark.operators import REGISTRY, _ensure_loaded, load
from glre_spark.session import fan_out
from tests.conftest import SF_DIR

_ensure_loaded()


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    # column pruning: scan schema must not include unprojected columns
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in scan_schema
    assert "l_orderkey" in scan_schema


def test_dim_joins_are_broadcast(spark):
    fn, _ = REGISTRY["join_broadcast"]
    plan = plan_of(fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    fn, _ = REGISTRY["join_salted_skew"]
    plan = plan_of(fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_relational_ops_have_no_python_udfs(spark):
    """Every SQL✓ operator must stay JVM-side (whole-stage codegen),
    never fall into ArrowEvalPython/BatchEvalPython."""
    exceptions = {
        # UDF surface ops: the Python stage IS the op; their SQL twins
        # re-derive the same values relationally (r4 added value-level
        # twins for the scalar/iterator surfaces and SimHash)
        "udf_grouped_map", "udf_grouped_agg", "udtf_sent_split",
        "udf_scalar_pandas", "udf_iter_pandas", "simhash_dedup",
        # the distributed extractor IS this op; its twin pins the invariant
        "glre_extract_text",
        # multimodal ops: binary decode is inherently an Arrow/Python stage
        # (that IS the op); their SQL twins oracle the generator formulas
        "mm_image_meta", "mm_frame_sample", "mm_audio_features",
        "mm_image_ahash",  # r5 twin: integer-exact block-mean hash in SQL
    }
    for name, (fn, sql) in sorted(REGISTRY.items()):
        if sql is None or name in exceptions:
            continue
        plan = plan_of(fn(spark, SF_DIR))
        assert "EvalPython" not in plan and "MapInPandas" not in plan, (
            f"{name} plan contains a Python stage"
        )


def test_cluster_names_has_no_global_window(spark):
    """Node-id assignment must be hash-based: a Window with an empty
    partition spec would funnel every distinct name through ONE task."""
    from glre_spark.linking import cluster_names

    names = spark.createDataFrame(
        [(f"Entity {i}", 1) for i in range(20)], "name string, n_sources long"
    )
    df = cluster_names(names)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # id assignment is xxhash64(name), never a global dense_rank
    assert "dense_rank" not in plan, "global dense_rank id assignment is back"
    assert "xxhash64" in plan
    # the one remaining window (canonical-rep pick) partitions by _comp:
    # its windowspecdefinition must lead with the partition column
    for line in plan.splitlines():
        if "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(", 1)[1]
            assert spec.lstrip().startswith("_comp"), (
                f"window not partitioned by _comp: {line.strip()}"
            )


def test_one_exchange_between_inference_and_sink(spark):
    """build_triples aggregates ONCE after the fused inference stage: its
    rows are linked by broadcast (map-side) joins straight into
    linking.dedup_triples, so exactly one hash exchange sits between the
    inference MapInPandas and the root, keyed (subj, pred, obj) plus the
    group column of a group-scoped build."""
    import re

    from glre_spark.datagen import pages_df
    from glre_spark.pipeline import build_triples, url_bucket

    pages = pages_df(spark, 50, partitions=2)
    grouped = pages.withColumn("bucket_group", F.pmod(url_bucket(), F.lit(4)))
    key = ["subj", "pred", "obj"]
    for df, want in (
        (build_triples(spark, pages), key),
        (build_triples(spark, grouped, group_col="bucket_group"), key + ["bucket_group"]),
    ):
        tree = _simple_plan(df).splitlines()
        # tree print order is parent first: the topmost MapInPandas is the
        # inference stage (the corpus-gen one sits below it)
        mip = next(i for i, l in enumerate(tree) if "MapInPandas" in l)
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", "\n".join(tree[:mip]))
        assert len(exchanges) == 1, exchanges
        assert re.findall(r"(\w+)#\d+", exchanges[0]) == want, exchanges[0]
        plan = plan_of(df)
        # exactly two Python stages: corpus gen + the fused inference stage
        assert sum("MapInPandas" in l for l in plan.splitlines() if "(" in l) >= 2
        # as-of dedup is a max_by aggregation, not a sort-window. Its
        # partial combine is still planned, but runs AFTER the explicit url
        # exchange (test_inference_stage_fed_by_one_core_sized_exchange),
        # so recrawls cross it: 0.268 → 0.283 MB exchanged on the 400-page
        # bench corpus
        assert "partial_max_by" in plan
        assert "Window" not in plan  # no window operator anywhere in the flagship


def test_inference_stage_fed_by_one_core_sized_exchange(spark, tmp_path):
    """Between the parquet scan and the fused inference MapInPandas there
    is exactly ONE exchange: latest_per_url's explicit url repartition,
    one partition per core whatever the input's size. A
    REPARTITION_BY_NUM exchange is never coalesced by AQE (its byte-based
    sizing ran the whole Python stage as one task), and a small advisory
    partition size does not widen it either."""
    import re

    from glre_spark.datagen import pages_df
    from glre_spark.pipeline import build_triples

    src = str(tmp_path / "pages")
    pages_df(spark, 50, partitions=4).write.parquet(src)
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(advisory)
    trees = [_simple_plan(build_triples(spark, spark.read.parquet(src)))]
    spark.conf.set(advisory, "1k")
    try:
        trees.append(_simple_plan(build_triples(spark, spark.read.parquet(src))))
    finally:
        spark.conf.set(advisory, before)
    for tree in (t.splitlines() for t in trees):
        mip = next(i for i, l in enumerate(tree) if "MapInPandas" in l)
        scan = next(i for i, l in enumerate(tree) if "FileScan parquet" in l)
        exchanges = [l for l in tree[mip:scan] if "Exchange" in l]
        assert len(exchanges) == 1, exchanges
        m = re.search(r"Exchange hashpartitioning\((\w+)#\d+, (\d+)\), (\w+)", exchanges[0])
        assert m, exchanges[0]
        assert m.groups() == (
            "url", str(spark.sparkContext.defaultParallelism), "REPARTITION_BY_NUM",
        )


def test_join_asof_is_the_pipelines_asof(spark):
    """join_asof runs pipeline.latest_per_url: a max_by aggregate straight
    over the url exchange (explicit REPARTITION_BY_NUM), no sort-window."""
    import re

    fn, _ = REGISTRY["join_asof"]
    tree = _simple_plan(fn(spark, SF_DIR)).splitlines()
    assert not any("Window" in l for l in tree)
    agg = next(i for i, l in enumerate(tree) if "functions=[max_by(" in l)
    exchanges = [l for l in tree[agg:] if "Exchange" in l]
    assert len(exchanges) == 1, exchanges
    assert re.search(
        r"Exchange hashpartitioning\(url#\d+, \d+\), REPARTITION_BY_NUM", exchanges[0]
    ), exchanges[0]


def test_keeper_semi_join_below_inference_stage(spark):
    """drop_near_dups: the keeper left-semi join must sit BELOW the fused
    inference MapInPandas in the physical plan — near-dups are dropped
    before any Python runs (VERDICT r4 #3). Tree print order is parent
    first, so the inference stage (topmost MapInPandas) must appear above
    the semi join, which must appear above the corpus-gen MapInPandas."""
    from glre_spark.datagen import pages_df
    from glre_spark.pipeline import build_triples

    df = build_triples(
        spark, pages_df(spark, 40, partitions=2), drop_near_dups=True
    )
    tree = plan_of(df).splitlines()
    mip = [i for i, l in enumerate(tree) if "MapInPandas" in l and "(" in l]
    semi = [i for i, l in enumerate(tree) if "LeftSemi" in l]
    assert semi, "no left-semi keeper join in the plan"
    assert min(mip) < min(semi) < max(mip), (
        "keeper semi-join is not between the inference stage and the scan"
    )


NARROW_INPUTS = {
    "fan_out": lambda spark: fan_out(spark.range(0, 100, 1, 1)),
    "pages_from_docs": lambda spark: pages_from_docs(load(spark, SF_DIR, "documents")),
    "mm_image_meta": lambda spark: REGISTRY["mm_image_meta"][0](spark, SF_DIR),
    "minhash_sig": lambda spark: REGISTRY["minhash_sig"][0](spark, SF_DIR),
}


@pytest.mark.parametrize("case", sorted(NARROW_INPUTS))
def test_narrow_input_fans_out_to_one_task_per_core(spark, case):
    """Every narrow-input CPU stage is spread by session.fan_out alone:
    exactly one round-robin exchange, to defaultParallelism partitions
    (one wave of tasks), whatever the stage's per-row cost."""
    import re

    plan = _simple_plan(NARROW_INPUTS[case](spark))
    widths = re.findall(r"RoundRobinPartitioning\((\d+)\)", plan)
    assert widths == [str(spark.sparkContext.defaultParallelism)], plan


def test_fan_out_leaves_a_core_wide_input_alone(spark):
    df = spark.range(0, 100, 1, spark.sparkContext.defaultParallelism)
    assert fan_out(df) is df
    assert "Exchange" not in _simple_plan(fan_out(df))


def test_repetition_score_has_no_shuffle(spark):
    """The Gopher-rules repetition stats are a pure per-row map (sorted-
    array run-length scan) — the plan must contain NO Exchange at all;
    at 100 TB this op is a straight scan."""
    fn, _ = REGISTRY["text_repetition_score"]
    plan = plan_of(fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def _simple_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_url_dedup_single_exchange(spark):
    """url_normalize_dedup: all normalization is per-row; the only
    shuffle is the keeper window on the canonical url key."""
    import re

    fn, _ = REGISTRY["url_normalize_dedup"]
    plan = _simple_plan(fn(spark, SF_DIR))
    ex = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert len(ex) == 1, plan
    assert ex[0].split("#")[0] == "canon_url"
    assert "Window" in plan


def test_boilerplate_hot_set_joins_broadcast(spark):
    """text_boilerplate_strip: the hot chunk set must come back as a
    BROADCAST join against the fixed-width (doc_id, pos, hash) stream —
    a shuffled join here would move the whole corpus stream twice."""
    import re

    fn, _ = REGISTRY["text_boilerplate_strip"]
    plan = _simple_plan(fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the chunk text itself must never be exchanged: every non-broadcast
    # exchange is hash-partitioned on doc_id or the chunk hash h
    keys = [
        m.split("#")[0]
        for m in re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    ]
    assert keys, "expected at least one hash exchange"
    assert set(keys) <= {"doc_id", "h"}, keys


def test_unigram_lm_joins_broadcast(spark):
    """text_unigram_logprob: the vocab-sized LM table must ride broadcast
    joins back onto the token stream — a shuffled join would exchange the
    exploded corpus twice."""
    fn, _ = REGISTRY["text_unigram_logprob"]
    plan = _simple_plan(fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the exploded token stream may be exchanged only for its two
    # aggregations: vocab count (t) and the per-doc reduce (doc_id)
    import re

    keys = [
        m.split("#")[0]
        for m in re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    ]
    assert set(keys) <= {"t", "doc_id"}, keys


def test_q3_plan_broadcasts_dim_and_heap_sorts_topk(spark):
    """The composed Q3 must show: the segment-filtered customer dim as a
    BroadcastHashJoin, the date filters pushed to BOTH fact scans, and
    the top-10 as TakeOrderedAndProject (per-partition heaps) — never a
    global Sort of the aggregated stream."""
    fn, _ = REGISTRY["q3_shipping_priority"]
    plan = plan_of(fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan
    assert "IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan
    # the customer scan must be pruned to the join key + filter column
    cust_scans = [l for l in plan.splitlines()
                  if "ReadSchema" in l and "c_custkey" in l]
    assert cust_scans and all("c_acctbal" not in l for l in cust_scans)


def test_domain_stats_single_mapside_exchange(spark):
    """Per-domain accounting must be ONE map-side-combining aggregation:
    two HashAggregates around a single domain-key exchange, no Window,
    no Python stage."""
    import re

    fn, _ = REGISTRY["domain_stats"]
    plan = plan_of(fn(spark, SF_DIR))
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Window" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan


def test_neighbor_jaccard_no_cartesian(spark):
    """The wedge join must stay an equi-join through the shared-neighbor
    key — any all-pairs fallback (cartesian / broadcast nested loop)
    is a scale-killer regression."""
    fn, _ = REGISTRY["kg_neighbor_jaccard"]
    plan = plan_of(fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_zipf_topk_is_heap_not_global_sort(spark):
    """The corpus-sized stream must collapse in one map-side-combining
    aggregation; the top-K must be TakeOrderedAndProject (per-partition
    heaps); the single-partition Window may only run AFTER the limit,
    where its input is bounded by K."""
    import re

    fn, _ = REGISTRY["vocab_topk_zipf"]
    plan = plan_of(fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"^\(\d+\) HashAggregate", plan, re.M)) == 2
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    # the Window must consume the TAKE's output, never the raw freq
    # table: in the top-down tree printout the Window line appears
    # ABOVE (parent of) the TakeOrderedAndProject line
    lines = plan.splitlines()
    win = min(i for i, l in enumerate(lines) if "Window" in l)
    take = min(i for i, l in enumerate(lines) if "TakeOrderedAndProject" in l)
    assert win < take


def test_bucketed_join_has_no_exchange_or_sort(spark):
    """The co-located bucketed join must run the SortMergeJoin directly
    over the two bucketed scans: the ONLY Exchange in the plan is the
    final priority aggregation, and no Sort exists anywhere (bucket
    sortBy metadata honored — one file per bucket by construction)."""
    import re

    from glre_spark.operators.joins import _BUCKET_SCAN_FLAG, bucketed_join_df

    old = spark.conf.get(_BUCKET_SCAN_FLAG, None)
    spark.conf.set(_BUCKET_SCAN_FLAG, "true")
    try:
        plan = plan_of(bucketed_join_df(spark, SF_DIR))
    finally:
        spark.conf.unset(_BUCKET_SCAN_FLAG) if old is None else spark.conf.set(
            _BUCKET_SCAN_FLAG, old
        )
    assert "SortMergeJoin" in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Sort\b", plan, re.M)) == 0
    # and the op itself must not leak the flag into the shared session
    fn, _ = REGISTRY["join_bucketed_colocated"]
    fn(spark, SF_DIR)
    assert spark.conf.get(_BUCKET_SCAN_FLAG, None) == old


def test_aqe_splits_skewed_join_partition(spark):
    """The session enables spark.sql.adaptive.skewJoin — prove it fires:
    a 75%-hot key under a merge join with test-scale thresholds must
    show SortMergeJoin(skew=true) in the FINALIZED adaptive plan (the
    hot partition split across tasks) and still produce exactly one
    output row per fact row. This is the automatic complement to
    join_salted_skew's manual salting."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(400_000).select(
            F.when(F.col("id") % 4 != 0, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        small = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("d")
        )
        j = big.hint("merge").join(small, "k").select(F.length("pad").alias("lp"))
        rows = j.collect()  # finalize THIS DataFrame's adaptive plan
        final = j._jdf.queryExecution().executedPlan().toString()
        assert len(rows) == 400_000
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, "AQE did not split the hot partition"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partition_pruning_resolves_at_plan_time(spark):
    """scan_partition_pruned: the lang filter must land in the scan's
    PartitionFilters (directory-level pruning — the other four language
    partitions are never opened), and the pruned scan must not read the
    text column."""
    fn, _ = REGISTRY["scan_partition_pruned"]
    plan = plan_of(fn(spark, SF_DIR))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "lang" in pf[0] and "= en" in pf[0], pf
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in rs and "doc_id" in rs


def test_dynamic_partition_pruning_fires(spark):
    """scan_dynamic_pruned: with the language set only known after
    filtering the dim, the partitioned scan must carry a
    dynamicpruningexpression (no static filter can exist) — runtime
    directory skipping through the join."""
    fn, _ = REGISTRY["scan_dynamic_pruned"]
    plan = plan_of(fn(spark, SF_DIR))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dynamicpruning" in pf[0].lower(), pf


def test_nested_schema_pruning_reads_only_leaves(spark):
    """scan_nested_pruned: selecting two leaves of a fat struct must
    prune the scan to exactly those leaves — the full text leaf inside
    the same struct is never read."""
    fn, _ = REGISTRY["scan_nested_pruned"]
    plan = plan_of(fn(spark, SF_DIR))
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "lang" in rs and "n_chars_meta" in rs
    assert "text" not in rs and "source" not in rs


def test_staged_pruning_ops_do_not_invalidate_each_other(spark):
    """ADVICE r6 #1 regression: both pruning ops used to stage-overwrite
    the SAME warehouse dir at DataFrame-BUILD time, so building one op
    deleted the part files the other op's already-built scan still
    listed (FAILED_READ_FILE on collect). Build both first, then collect
    both — and build partition_pruned AGAIN to prove a rebuild does not
    kill dynamic_pruned's live DataFrame either."""
    from glre_spark.operators import REGISTRY

    pp, _ = REGISTRY["scan_partition_pruned"]
    dpp, _ = REGISTRY["scan_dynamic_pruned"]
    df_pp = pp(spark, SF_DIR)
    df_dpp = dpp(spark, SF_DIR)
    assert df_pp.count() > 0
    pp(spark, SF_DIR)  # re-build; must not invalidate df_dpp below
    assert df_dpp.count() > 0
    assert df_pp.count() > 0
    # every staged file lives under THIS application's staging root
    # (deleted when the driver exits), never in a cross-run shared dir
    from urllib.parse import urlparse

    from glre_spark.operators import staging_root

    root = urlparse(staging_root(spark)).path + "/"
    assert spark.sparkContext.applicationId in root
    for df in (df_pp, df_dpp):
        files = df.inputFiles()
        assert files and all(urlparse(f).path.startswith(root) for f in files)
