"""Linking & canonicalization properties (SURVEY.md §5.2.5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from glre_spark.linking import (
    NAME_BANDS,
    alias_dict_df,
    band_rows,
    candidates,
    connected_components,
    dedup_triples,
    link_aliases,
    minhash,
    shingle_hashes,
)


def _mentions(spark):
    rows = [
        ("u1", "United States"), ("u1", "USA"), ("u2", "u.s."),
        ("u2", "Acme Corp"), ("u3", "ACME CORPORATION"), ("u3", "Globex"),
        ("u4", "Unknown Widget Co"), ("u4", "United States"),
        ("u5", "United States"), ("u5", "new york city"),
    ]
    return spark.createDataFrame(rows, "url string, name string")


def test_alias_variants_link_to_same_entity(spark):
    m = _mentions(spark)
    linked = link_aliases(m, alias_dict_df(spark))
    keys = {
        r.name: r.entity_key
        for r in linked.select("name", "entity_key").collect()
    }
    assert keys["United States"] == keys["USA"] == keys["u.s."]
    assert keys["Acme Corp"] == keys["ACME CORPORATION"]
    # unlinked name gets a deterministic surrogate
    assert keys["Unknown Widget Co"].startswith("S")


def test_link_alias_broadcast_op_links_every_name(spark, sf_dir):
    """The registry op is linking.link_aliases: names missing from the
    dictionary (every nation name) still get the surrogate key and keep
    their own name, never NULL."""
    from glre_spark.operators import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["link_alias_broadcast"][0](spark, sf_dir).collect()
    assert len(rows) == 25
    assert all(r.entity_key and r.entity_key.startswith("S") for r in rows)
    assert all(r.canonical_name for r in rows)


def test_link_alias_broadcast_dictionary_hits_match_twin(spark, sf_dir, tmp_path):
    """Nation names that are dictionary aliases take the dictionary's Q key
    in both twins (the testdata names all miss it, so only this fixture
    can tell a broken join key from a working one)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from glre_spark.operators import REGISTRY, _ensure_loaded
    from tests.oracle_util import TABLES, compare, duck_run

    names = ["GERMANY", "UNITED STATES", "U.S.", "Acme Corp", "Zanzibar Widget Guild"]
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(len(names)), pa.int32()),
        "n_name": names,
        "n_regionkey": pa.array([0] * len(names), pa.int32()),
    }), tmp_path / "nation.parquet")
    for t in TABLES:
        if t != "nation":
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")

    _ensure_loaded()
    fn, sql = REGISTRY["link_alias_broadcast"]
    d = str(tmp_path)
    assert compare(fn(spark, d), duck_run(d, sql)) == []
    keys = {names[r.n_nationkey]: r.entity_key for r in fn(spark, d).collect()}
    assert sum(k.startswith("Q") for k in keys.values()) >= 1
    assert keys["U.S."] == keys["UNITED STATES"] and keys["U.S."].startswith("Q")
    assert keys["Zanzibar Widget Guild"].startswith("S")


def test_linking_is_idempotent(spark):
    m = _mentions(spark)
    ad = alias_dict_df(spark)
    once = link_aliases(m, ad).select("url", "name", "entity_key")
    twice = link_aliases(once.drop("entity_key"), ad).select("url", "name", "entity_key")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_minhash_lsh_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " today"),                      # near-dup of 1
        (3, "completely different content about spark dataframes"),
        (4, base.replace("quick", "quik")),        # near-dup of 1
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    hs = df.select(F.col("id").alias("doc_id"), shingle_hashes(F.col("text")).alias("hs"))
    bands = band_rows(minhash(hs), NAME_BANDS)
    pairs = {(r.id_a, r.id_b) for r in candidates(bands).collect()}
    assert (1, 2) in pairs
    assert (1, 4) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs and (3, 4) not in pairs


def test_connected_components_min_label(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (3, 4)], "id_a long, id_b long"
    )
    got = {r.id: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def test_dedup_triples_keeps_max_score(spark):
    t = spark.createDataFrame(
        [
            ("a", "P1", "b", 0.5, "u1"),
            ("a", "P1", "b", 0.9, "u2"),
            ("a", "P2", "b", 0.7, "u3"),
        ],
        "subj string, pred string, obj string, score double, url string",
    )
    got = {(r.subj, r.pred, r.obj): (r.score, r.n_sources) for r in dedup_triples(t).collect()}
    assert got[("a", "P1", "b")] == (0.9, 2)
    assert got[("a", "P2", "b")] == (0.7, 1)


def test_grouped_map_band_blocking_no_quadratic_on_uniform_length(spark, tmp_path):
    """Regression for the n_chars blocking key: 300 equal-length but
    unrelated docs must NOT form one 300-doc block (44,850 pairs). LSH
    band_hash blocks on content signature, so unrelated docs co-bucket
    only by hash accident."""
    import random

    from glre_spark.operators.udfops import udf_grouped_map

    rnd = random.Random(7)
    rows = [
        (i, "".join(rnd.choice("abcdefghij ") for _ in range(200)))
        for i in range(300)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    n_pairs = udf_grouped_map(spark, str(tmp_path)).count()
    assert n_pairs < 500, f"uniform-length corpus exploded into {n_pairs} pairs"


def test_split_holdout_stable_under_corpus_growth(spark):
    """A document's split/shard assignment depends only on its own key:
    computing the assignment over a subset of the corpus must agree with
    the full-corpus assignment on every shared doc — the property that
    lets a 100 TB pipeline add crawl batches without reshuffling holdout
    membership (and that engine-RNG sampling does not have)."""
    from glre_spark.operators.sets_sorts import split_holdout
    from tests.conftest import SF_DIR

    full = {
        r.doc_id: (r.split, r.shard)
        for r in split_holdout(spark, SF_DIR).collect()
    }

    # re-apply the op's bucket rule to a FILTERED corpus
    def bucket(salt, mod):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(mod))

    subset = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter("doc_id % 3 = 0")
    sub = {
        r.doc_id: (r.split, r.shard)
        for r in subset.select(
            "doc_id",
            F.when(bucket(":split", 100) < 5, "val").otherwise("train").alias("split"),
            bucket(":shard", 16).cast("int").alias("shard"),
        ).collect()
    }
    assert sub and all(full[d] == v for d, v in sub.items())
