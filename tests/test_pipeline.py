"""End-to-end flagship pipeline smoke + determinism (SURVEY.md M1)."""

from __future__ import annotations

from glre_spark.datagen import pages_df
from glre_spark.pipeline import build_triples, latest_per_url, prepare_pages


def test_pipeline_end_to_end(spark):
    pages = pages_df(spark, 80, partitions=4)
    triples = build_triples(spark, pages)
    rows = triples.collect()
    assert len(rows) > 0
    cols = set(triples.columns)
    assert {"subj", "pred", "obj", "score", "url", "n_sources"} <= cols
    # deduped: (subj, pred, obj) unique
    keys = [(r.subj, r.pred, r.obj) for r in rows]
    assert len(keys) == len(set(keys))
    # deterministic across runs
    rows2 = build_triples(spark, pages_df(spark, 80, partitions=4)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_triples_invariant_to_input_partitioning(spark):
    """Cluster-size independence (north rule: resume an N-executor run at
    4N): the triple set must not depend on how the input is split."""
    a = build_triples(spark, pages_df(spark, 80, partitions=3)).collect()
    b = build_triples(spark, pages_df(spark, 80, partitions=13)).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_one_aggregation_matches_two_aggregation_reference(spark):
    """build_triples aggregates the inference stage's rows once, by
    (subj, pred, obj[, group]). Its full rows (score, url, n_sources and
    the group) must equal the two-aggregation composition: the stage's
    rows grouped by (h_name, r, t_name[, group]) first, then linked, then
    deduped. Plain and bucket_group-scoped builds over a corpus with
    seeded recrawls."""
    from pyspark.sql import functions as F

    from glre_spark.inference import broadcast_weights, infer_stage_agg
    from glre_spark.linking import alias_dict_df, dedup_triples, link_aliases
    from glre_spark.pipeline import url_bucket

    pages = pages_df(spark, 120, partitions=4).withColumn(
        "bucket_group", F.pmod(url_bucket(), F.lit(3))
    )
    assert pages.select("url").distinct().count() < pages.count()  # recrawls
    alias_df = alias_dict_df(spark)

    # the reference links through link_aliases itself, not through the
    # predictions_to_triples under test
    def link(df, name, out):
        rest = [c for c in df.columns if c != name]
        return link_aliases(df, alias_df, name_col=name).select(
            *rest, F.col("canonical_name").alias(out)
        )

    for g in ([], ["bucket_group"]):
        group_col = g[0] if g else None
        preds = infer_stage_agg(
            prepare_pages(pages, carry_cols=g), weights_bc=broadcast_weights(spark),
            extract_html=True, group_col=group_col,
        )
        surface = preds.groupBy("h_name", "r", "t_name", *g).agg(
            F.max("score").alias("score"),
            F.min("url").alias("url"),
            F.sum("n_pred_rows").alias("n_sources"),
        )
        linked = link(link(surface, "h_name", "subj"), "t_name", "obj")
        want = dedup_triples(linked.withColumnRenamed("r", "pred"), extra_keys=g)
        got = build_triples(spark, pages, group_col=group_col)
        cols = ["subj", "pred", "obj", "score", "url", "n_sources", *g]
        rows = sorted(map(tuple, got.select(*cols).collect()))
        assert rows and rows == sorted(map(tuple, want.select(*cols).collect()))


def _reference_stage(docs, schema, group_col):
    """The stage's former per-prediction dict loop over predict_batch
    records, per Arrow batch: (group, h_name, r, t_name) → [max
    round(score, 6), min url, count]."""
    import pandas as pd

    from glre_spark.extract import extract_text
    from glre_spark.inference import _get_model
    from glre_spark.model.net import REL_IDS
    from glre_spark.nlp import analyze

    def fn(batches):
        model = _get_model()
        for pdf in batches:
            acc = {}
            urls = pdf["url"].tolist()
            groups = pdf[group_col].tolist() if group_col else [None] * len(urls)
            docs = [analyze(u, extract_text(h)) for u, h in zip(urls, pdf["html"])]
            for url, grp, doc, rec in zip(urls, groups, docs, model.predict_batch(docs)):
                names = doc.entity_names
                for h, t, rel, score in rec.tolist():
                    key = (grp, names[h], REL_IDS[rel], names[t])
                    score = round(score, 6)
                    cur = acc.get(key)
                    if cur is None:
                        acc[key] = [score, url, 1]
                    else:
                        cur[0] = max(cur[0], score)
                        cur[1] = min(cur[1], url)
                        cur[2] += 1
            rows = [(h, r, t, s, u, n, g) for (g, h, r, t), (s, u, n) in acc.items()]
            frame = pd.DataFrame(rows, columns=[*schema.fieldNames()[:6], "_g"])
            yield frame.rename(columns={"_g": group_col}) if group_col else frame.drop(columns="_g")

    cols = ["url", "html", *([group_col] if group_col else [])]
    return docs.select(*cols).mapInPandas(fn, schema)


def test_stage_matches_per_prediction_reference(spark):
    """infer_stage_agg's columnar aggregation (prediction records → one
    frame and one groupby per Arrow batch) must give exactly the rows of
    the per-prediction dict loop, score bits included: with no group, an
    int group and a string group, over partitions that span several Arrow
    batches."""
    from pyspark.sql import functions as F

    from glre_spark.inference import broadcast_weights, infer_stage_agg
    from glre_spark.pipeline import url_bucket

    pages = (
        pages_df(spark, 120, partitions=4)
        .withColumn("bucket_group", F.pmod(url_bucket(), F.lit(3)))
        .withColumn("shard", F.substring(F.md5("url"), 1, 1))
    )
    docs = prepare_pages(pages, carry_cols=["bucket_group", "shard"])
    batch = "4"
    per_part = docs.groupBy(F.spark_partition_id()).count().collect()
    assert max(r["count"] for r in per_part) > 2 * int(batch)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, batch)
    try:
        for group_col, spark_type in ((None, None), ("bucket_group", "int"), ("shard", "string")):
            stage = infer_stage_agg(
                docs, weights_bc=broadcast_weights(spark), extract_html=True,
                group_col=group_col,
            )
            if group_col:
                assert stage.schema[group_col].dataType.simpleString() == spark_type
            want = _reference_stage(docs, stage.schema, group_col)

            def rows(df):
                return sorted(
                    (*r[:3], r.score.hex(), *r[4:]) for r in df.collect()
                )

            got = rows(stage)
            assert got and got == rows(want)
    finally:
        spark.conf.set(conf, before)


def test_cluster_entities_refuses_group_col(spark):
    """Name clusters are corpus-global: a group-scoped build cannot
    compute them exactly, and must not silently drop the group column."""
    import pytest
    from pyspark.sql import functions as F

    pages = pages_df(spark, 20, partitions=2).withColumn("bucket_group", F.lit(0))
    with pytest.raises(ValueError, match="cluster_entities"):
        build_triples(spark, pages, cluster_entities=True, group_col="bucket_group")


def test_extractor_matches_text_column_in_spark(spark):
    """Byte-identical invariant enforced distributed, not just in-process."""
    from pyspark.sql import functions as F

    from glre_spark.extract import extract_text_udf

    pages = pages_df(spark, 120, partitions=4)
    bad = pages.withColumn("extracted", extract_text_udf(F.col("html"))).filter(
        F.col("extracted") != F.col("text")
    )
    assert bad.isEmpty()


def test_latest_per_url_dedups_recrawls(spark):
    pages = pages_df(spark, 100, partitions=4)
    deduped = latest_per_url(pages)
    assert deduped.groupBy("url").count().filter("count > 1").isEmpty()
    assert deduped.count() < pages.count()  # corpus has seeded recrawls


def test_prepare_pages_filters_lang(spark):
    docs = prepare_pages(pages_df(spark, 100, partitions=4), use_extractor=False)
    assert docs.filter("lang != 'en'").isEmpty()


def test_drop_near_dups_removes_duplicate_page(spark):
    """drop_near_dups=True must produce exactly the triples of the corpus
    with non-keeper near-dups removed (keeper = min URL — r6 keys the
    decision on the raw url, after the as-of recrawl dedup, so recrawls
    of one url share a single keeper row) — VERDICT r4 #3 / ADVICE r5."""
    from pyspark.sql import functions as F

    from glre_spark.linking import near_dup_keepers
    from glre_spark.pipeline import eligible_pages, latest_per_url

    pages = pages_df(spark, 40, partitions=2)
    # a byte-identical copy of one page under a different url: a certain
    # near-dup (same shingles → same signature → same LSH bucket, J=1.0)
    dup = pages.filter(F.col("url") == pages.select("url").head()[0]).withColumn(
        "url", F.concat(F.col("url"), F.lit("?mirror"))
    )
    corpus = pages.unionByName(dup)

    got = build_triples(
        spark, corpus, use_extractor=False, drop_near_dups=True
    ).collect()

    # manual emulation of the pipeline's decision: keeper over each
    # eligible url's LATEST crawl text, keyed by url
    prepared = latest_per_url(eligible_pages(corpus))
    keep = near_dup_keepers(
        prepared.select(F.col("url").alias("doc_id"), "text")
    ).filter(~F.col("is_dup")).select(F.col("doc_id").alias("url"))
    manual = corpus.join(keep, "url", "left_semi")
    n_dropped = corpus.count() - manual.count()
    assert n_dropped >= 1, "the mirror page should be dropped"
    assert prepared.count() - keep.count() == 1, (
        "exactly one url (the mirror) should lose its keeper slot"
    )
    want = build_triples(spark, manual, use_extractor=False).collect()

    key = lambda r: (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want)) and got


def test_spark_submit_master_is_honored(tmp_path):
    """get_spark must NOT override spark-submit's --master (r6: an
    unconditional builder.master() pinned every CLI run to local[nproc],
    silently defeating the two-cluster-size protocol). Launch a real
    spark-submit at local[3] and assert the session sees it."""
    import subprocess
    import textwrap

    probe = tmp_path / "probe.py"
    probe.write_text(
        textwrap.dedent(
            """
            from glre_spark.session import get_spark
            s = get_spark("master_probe")
            print("MASTER=", s.sparkContext.master,
                  "SHUFFLE=", s.conf.get("spark.sql.shuffle.partitions"))
            """
        )
    )
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        ["spark-submit", "--master", "local[3]", str(probe)],
        capture_output=True, text=True, timeout=180, cwd=repo,
        env={**os.environ, "PYTHONPATH": repo},
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("MASTER=")]
    assert line, out.stdout + out.stderr[-2000:]
    assert "local[3]" in line[0]
    assert "SHUFFLE= 8" in line[0]  # max(3 cores, 8) sized post-startup
