"""Cross-document entity clustering (north_star: MinHash-LSH blocking +
connected components merging near-duplicate entity names)."""

from __future__ import annotations

from glre_spark.linking import apply_name_clusters, cluster_names


def test_near_duplicate_names_cluster_to_heaviest(spark):
    rows = [
        ("Vandelay Industries Incorporated", 10),
        ("Vandelay Industries Incorporate", 2),    # near-dup (one char off)
        ("Vandelay Industries Incorporatedd", 1),  # near-dup
        ("Globex Industries", 5),
        ("Initech Systems", 3),
    ]
    names = spark.createDataFrame(rows, "name string, n_sources long")
    mapping = {
        r.name: r.cluster_name
        for r in cluster_names(names).collect()
    }
    assert mapping["Vandelay Industries Incorporate"] == "Vandelay Industries Incorporated"
    assert mapping["Vandelay Industries Incorporatedd"] == "Vandelay Industries Incorporated"
    # unrelated names stay themselves
    assert mapping["Globex Industries"] == "Globex Industries"
    assert mapping["Initech Systems"] == "Initech Systems"


def test_apply_name_clusters_rewrites_and_redupes(spark):
    triples = spark.createDataFrame(
        [
            ("Acme Corp X", "P108", "Bob", 0.9, "u1", 2),
            ("Acme Corp XX", "P108", "Bob", 0.8, "u2", 3),
        ],
        "subj string, pred string, obj string, score double, url string, n_sources long",
    )
    names = triples.selectExpr("subj AS name", "n_sources").unionByName(
        triples.selectExpr("obj AS name", "n_sources")
    )
    mapping = cluster_names(names)
    out = apply_name_clusters(triples, mapping).collect()
    assert len(out) == 1
    (row,) = out
    assert row.subj == "Acme Corp XX"  # heavier variant wins
    assert row.score == 0.9 and row.n_sources == 5


def test_clustering_deterministic(spark):
    rows = [(f"Entity Number {i}", 1) for i in range(30)] + [
        ("Entity Number 7x", 1),
        ("Entity Number 17x", 1),
    ]
    names = spark.createDataFrame(rows, "name string, n_sources long")
    a = sorted(map(tuple, cluster_names(names).collect()))
    b = sorted(map(tuple, cluster_names(names).collect()))
    assert a == b


def test_near_dup_keepers_sketch_matches_exact(spark):
    """The bottom-256 KMV sketch verify (the pipeline's scale path) must
    reach the same keeper decision as the exact-Jaccard verify on a
    corpus containing byte-identical mirrors AND genuine near-dups
    (one-sentence edits). KMV degenerates to exact when a doc's distinct
    shingle count <= k, and is an unbiased estimator above it (r5)."""
    from pyspark.sql import functions as F

    from glre_spark.datagen import pages_df
    from glre_spark.linking import KEEPER_SKETCH_K, near_dup_keepers

    # id folds warc_ts: the corpus seeds RECRAWLS (ids 6/7, 16/17, …
    # share a url), so xxhash64(url) alone duplicates — which the r6
    # uniqueness guard now refuses
    base = pages_df(spark, 60, partitions=2).select(
        F.xxhash64("url", "warc_ts").alias("doc_id"), "text"
    )
    mirror = base.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near = base.limit(5).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" One extra trailing sentence .")).alias("text"),
    )
    docs = base.unionByName(mirror).unionByName(near).localCheckpoint(eager=True)

    exact = {
        r["doc_id"]: (r["keeper"], r["is_dup"])
        for r in near_dup_keepers(docs).collect()
    }
    sketch = {
        r["doc_id"]: (r["keeper"], r["is_dup"])
        for r in near_dup_keepers(docs, sketch_k=KEEPER_SKETCH_K).collect()
    }
    assert exact == sketch
    n_dups = sum(1 for _, d in exact.values() if d)
    assert n_dups >= 5, f"expected at least the 5 mirrors flagged, got {n_dups}"


def test_near_dup_keepers_rejects_duplicate_doc_ids(spark):
    """PRECONDITION guard (ADVICE r5): a duplicate doc_id fans out the
    verify join and collapses the per-row keep/drop decision — the
    check must refuse the input loudly."""
    import pytest
    from pyspark.sql import functions as F

    from glre_spark.linking import near_dup_keepers

    docs = spark.createDataFrame(
        [(1, "some text one"), (1, "other text entirely"), (2, "unrelated")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="doc_id not unique"):
        near_dup_keepers(docs).collect()
