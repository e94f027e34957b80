"""The flagship KG-construction pipeline (SURVEY.md §3.2).

scan_pages → filter_lang → as-of dedup (latest crawl per url, over one
core-sized url-hash exchange) → extract_text (byte-identical invariant)
→ mapInPandas GLRE inference (per-partition aggregation) → per-row
entity linking (two broadcast alias joins) → exact dedup, the one
aggregation and the one hash exchange between the inference stage and
the sink.

Everything before/after the single Arrow UDF stage is declarative
DataFrame code: Catalyst prunes the html column whenever extraction is
skipped, pushes the lang filter to the scan, and AQE handles skew in the
post-link shuffles (SURVEY.md §4.2-4.3).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from glre_spark.inference import broadcast_weights
from glre_spark.linking import (
    KEEPER_SKETCH_K,
    alias_dict_df,
    apply_name_clusters,
    cluster_names,
    dedup_triples,
    link_aliases,
    near_dup_keepers,
)
from glre_spark.session import url_exchange_width

MAX_DOC_CHARS = 100_000
LANG = "en"  # the one language the model and alias dictionary cover
URL_BUCKETS = 1024  # deterministic lineage buckets, decoupled from task count


def url_bucket():
    """Stable hash bucket of the ``url`` column (repartition_urlhash,
    SURVEY.md §2.9)."""
    return F.pmod(F.xxhash64(F.col("url")), F.lit(URL_BUCKETS)).cast("int")


def latest_per_url(pages: DataFrame) -> DataFrame:
    """join_asof flavor: keep the newest warc_ts crawl per url.

    The url exchange is an explicit ``repartition(n, "url")`` under the
    ``groupBy("url")``: it satisfies the aggregate, and its partitions are
    the fused inference stage's tasks. ``n`` is session.url_exchange_width;
    AQE would coalesce the aggregate's own exchange by bytes (at 400
    pages, 0.27 MB, into ONE task) but never a REPARTITION_BY_NUM one.

    max_by over the row struct, NOT a window + row_number (r02 flagship-
    scaling suspect #1). Spark plans it as a SortAggregate, partial and
    final alike: the aggregation buffer holds the row struct (html
    included), and HashAggregate only updates fixed-width buffers in
    place, so each side sorts its rows by url. The partial combine runs
    after the exchange, so recrawls cross it (0.268 → 0.283 MB on the
    400-page bench corpus).
    Ties on warc_ts cannot occur: datagen guarantees a recrawl's warc_ts
    is strictly later (datagen.py), and CC-style WARC timestamps are
    per-fetch.
    NULL warc_ts is coalesced to the epoch so a url whose crawls ALL lack
    a timestamp still keeps one real row (max_by skips NULL ordering
    keys, which would otherwise emit an all-NULL payload)."""
    payload = [c for c in pages.columns if c != "url"]
    ts = F.coalesce(F.col("warc_ts"), F.to_timestamp(F.lit("1970-01-01")))
    # The observation keeps the exchange's stage in the final AQE plan.
    # Over an EMPTY stage AQE swaps the aggregate for an empty relation
    # and drops the stage, with any observation on build_triples' input
    # (lineage's per-group counts: Observation.get then fails). Emptiness
    # does not propagate through a CollectMetrics.
    parted = pages.repartition(url_exchange_width(pages), "url").observe(
        f"url_exchange_{uuid.uuid4().hex}", F.count(F.lit(1)).alias("rows")
    )
    return (
        parted.groupBy("url")
        .agg(F.max_by(F.struct(*payload), ts).alias("_row"))
        .select("url", *[F.col(f"_row.{c}").alias(c) for c in payload])
    )


def is_eligible() -> Column:
    """The pipeline's admission rule (filter_lang + filter_len) as a
    predicate, for counting admitted pages without filtering them."""
    return (F.col("lang") == LANG) & F.length("text").between(1, MAX_DOC_CHARS)


def eligible_pages(pages: DataFrame) -> DataFrame:
    """The pipeline's admission filter, factored out so the streaming
    crawl registry applies EXACTLY the same rule: a crawl excluded here
    must not count as a url's latest version."""
    return pages.filter(is_eligible())


def prepare_pages(pages: DataFrame, use_extractor: bool = True,
                  carry_cols: list[str] | None = None) -> DataFrame:
    """Filter, dedup recrawls over one url-hash exchange. Text extraction is
    NOT done here — it is fused into the inference Arrow stage
    (inference.infer_stage_agg(extract_html=True)) so the pipeline has exactly
    one Python stage. With ``use_extractor`` the html column is carried
    through; otherwise the trusted text column is (and html is pruned from
    the scan by Catalyst)."""
    payload = "html" if use_extractor else "text"
    return latest_per_url(eligible_pages(pages)).select(
        "url", "warc_ts", payload, "lang", *(carry_cols or [])
    )


def predictions_to_triples(preds: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Link head/tail names of the inference stage's rows through the
    alias dictionary: (h_name, r, t_name, n_pred_rows, …) → (subj, pred,
    obj, …, n_sources), row for row. Every other column (score, url, a
    group column) rides through unchanged.

    No aggregation here: both alias joins are broadcast (map-side), and
    linking.dedup_triples' max / min / sum are associative, so its one
    (subj, pred, obj[, group]) exchange merges what a (h_name, r, t_name)
    pre-aggregation would have. The trade: the normalization regexes run
    once per stage-output row (already collapsed per partition inside the
    stage), not once per globally distinct (h_name, r, t_name)."""
    rest = [c for c in preds.columns if c not in ("h_name", "r", "t_name", "n_pred_rows")]
    linked_h = link_aliases(preds, alias_df, name_col="h_name").select(
        F.col("canonical_name").alias("subj"), "r", "t_name", "n_pred_rows", *rest,
    )
    return link_aliases(linked_h, alias_df, name_col="t_name").select(
        "subj", F.col("r").alias("pred"), F.col("canonical_name").alias("obj"),
        *rest, F.col("n_pred_rows").alias("n_sources"),
    )


def build_triples(spark: SparkSession, pages: DataFrame,
                  use_extractor: bool = True,
                  cluster_entities: bool = False,
                  group_col: str | None = None,
                  drop_near_dups: bool = False) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → deduped triples.

    ``cluster_entities=True`` adds the cross-document entity-cluster merge
    (MinHash-LSH blocking + connected components over near-duplicate
    names, linking.cluster_names) after the alias join — off by default in
    benches because the dictionary already canonicalizes this corpus.
    The clusters are corpus-global, so it refuses a ``group_col``.

    ``group_col`` names a column on ``pages`` (lineage bucket_group int,
    or the streaming crawl_key string): dedup becomes group-scoped and
    the column rides to the output so the checkpointed run can partition
    its sink by it in ONE pass and the streaming log can keep crawl
    granularity.

    ``drop_near_dups=True`` composes the dedup DECISION
    (linking.near_dup_keepers: MinHash/LSH → Jaccard-verified → connected
    components → min-id keeper) BELOW the inference stage: non-keeper
    pages are dropped by a left-semi join before any Python runs, the way
    a training-data pipeline spends its dedup pass to save its model
    pass. The decision shingles the page's stored content (html when
    ``use_extractor``, else text) so it adds zero extraction stages.
    Stream-parity note: a near-dup decision inside foreachBatch is
    batch-LOCAL (it can't see near-dups that arrived in earlier
    micro-batches), so stream ≡ batch exactness (test_streaming) holds
    only for the recrawl/as-of dedup, not for cross-batch near-dup
    dropping. streaming.stream_build_triples therefore REFUSES
    drop_near_dups=True and offers the explicit 'batch_local' opt-in
    (within-batch-only semantics, pinned by test); at scale the exact
    keeper table is a periodic batch job joined against the log
    instead."""
    from glre_spark.inference import infer_stage_agg

    if cluster_entities and group_col:
        raise ValueError(
            "cluster_entities=True is corpus-global: a group-scoped build "
            f"(group_col={group_col!r}) cannot compute its name clusters exactly"
        )
    docs = prepare_pages(
        pages, use_extractor=use_extractor,
        carry_cols=[group_col] if group_col else [],
    )
    if drop_near_dups:
        content = (
            F.col("html").cast("string") if use_extractor else F.col("text")
        )
        # localCheckpoint: the keeper DAG and the main path both consume
        # the prepared corpus; materializing it once is the local analog
        # of the staging write a real pipeline would do before dedup.
        # The keeper id is the URL ITSELF, not xxhash64(url): at 10^12
        # docs a 64-bit id expects ~n²/2^65 ≈ tens of thousands of
        # colliding url pairs, each silently coupling two distinct docs'
        # keep/drop fate (ADVICE r5). The url is unique by construction
        # here (latest_per_url collapsed recrawls), and the extra key
        # bytes ride shuffles whose payload (bottom-256 sketches, band
        # hashes) dominates; a real deployment could dictionary-encode.
        ided = docs.localCheckpoint(eager=True)
        keepers = near_dup_keepers(
            ided.select(F.col("url").alias("doc_id"), content.alias("text")),
            sketch_k=KEEPER_SKETCH_K,
        )
        keep_ids = keepers.filter(~F.col("is_dup")).select(
            F.col("doc_id").alias("url")
        )
        docs = ided.join(keep_ids, "url", "left_semi")
    preds = infer_stage_agg(
        docs, weights_bc=broadcast_weights(spark), extract_html=use_extractor,
        group_col=group_col,
    )
    triples = predictions_to_triples(preds, alias_dict_df(spark))
    deduped = dedup_triples(triples, extra_keys=[group_col] if group_col else [])
    if cluster_entities:
        names = deduped.select(F.col("subj").alias("name"), F.col("n_sources")).unionByName(
            deduped.select(F.col("obj").alias("name"), F.col("n_sources"))
        )
        mapping = cluster_names(names)
        deduped = apply_name_clusters(deduped, mapping)
    return deduped
