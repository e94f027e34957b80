"""Structured Streaming wiring (SURVEY.md §2.10 — stretch surface).

The reference is a batch pipeline; this module re-runs the batch
pipeline's own pieces as streams: one parquet file-source reader
(``read_stream``, given the table's schema — ``EVENTS_SCHEMA``,
``DOCS_SCHEMA`` or ``datagen.PAGES_SCHEMA``), the windowed event
aggregations of operators/windows_ops.py, one arbitrary-stateful operator
(``stateful_user_totals``), and incremental KG construction
(``stream_build_triples`` → ``read_stream_triples``). Every query runs
as a bounded availableNow stream through one loop, ``_run_bounded``.
Used by tests/test_streaming.py and operators/streaming_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

# A file stream needs an explicit schema: inferring one would add a job.
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def read_stream(
    spark: SparkSession, path: str, schema: str, files_per_trigger: int = 4
) -> DataFrame:
    """Parquet files under ``path`` as a stream of ``schema`` rows, at
    most ``files_per_trigger`` files per micro-batch (oldest mtime
    first)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


# Event-time watermarks: how late an event may arrive and still count
# (windowed counts), and how long a seen event_id is remembered (dedup).
WINDOW_WATERMARK = "10 minutes"
DEDUP_WATERMARK = "30 minutes"
# Bounded-stream deadlines: a stream still running after them raises
# instead of leaving a partial sink.
MEMORY_STREAM_TIMEOUT_S = 300
BUILD_STREAM_TIMEOUT_S = 600


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per-5-min event counts with late-data watermark — the streaming twin
    of win_tumbling."""
    return (
        events.withWatermark("ts", WINDOW_WATERMARK)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """10-min windows sliding every 5 — the streaming twin of
    win_sliding (each event lands in two overlapping windows)."""
    return (
        events.withWatermark("ts", WINDOW_WATERMARK)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup (the §2.13 dedup_exact shape as a stream):
    ``dropDuplicatesWithinWatermark`` keeps the first occurrence of each
    event_id and drops re-deliveries arriving within the watermark window
    — the at-least-once-source → exactly-once-pipeline building block.
    Unlike plain dropDuplicates (state grows forever on a stream), the
    watermark bounds state: dedup keys older than it are evicted, which is
    the only state shape that survives an unbounded crawl at web scale."""
    return events.withWatermark("ts", DEDUP_WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY.md
    §2.10 / brief: "applyInPandasWithState for custom stateful
    operators"): running per-user totals carried in explicit group state
    across micro-batches — the arbitrary-stateful shape that windowed aggs
    can't express (e.g. a streaming resume manifest or per-url crawl
    state). Emits the updated running total once per (user, micro-batch).

    The total accumulates integer cents (HALF_UP on the exact half,
    matching F.round and DuckDB ROUND) as ``sum_cents`` — an
    order-independent encoding, so the result does not depend on how the
    stream was split into micro-batches."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        (user_id,) = key
        total, acc = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            total += len(pdf)
            v = pdf["value"].to_numpy() * 100
            # HALF_UP (away from zero), NOT pandas .round() half-even:
            # value*100 can be binary-exact .5 and must round like the
            # DuckDB twin's ROUND() / Spark's F.round
            acc += int((np.sign(v) * np.floor(np.abs(v) + 0.5)).sum())
        state.update((total, acc))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [total], "sum_cents": [acc]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, sum_cents long",
        stateStructType="n long, c long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _run_bounded(writer: DataStreamWriter, timeout_s: int, what: str):
    """Run ``writer`` as an availableNow stream to completion. A stream
    still running after ``timeout_s`` is stopped and raises instead of
    leaving a partial sink."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{what} still running after {timeout_s}s")
    return q


def run_stream_to_memory(df: DataFrame, name: str, mode: str = "complete"):
    """Drive a bounded file-source stream to completion into an in-memory
    table (test harness; production would writeStream to the lake).
    ``mode="update"`` for arbitrary-stateful queries (complete unsupported).
    Raises if the stream does not finish within MEMORY_STREAM_TIMEOUT_S —
    a partial memory table would silently yield wrong results downstream."""
    return _run_bounded(
        df.writeStream.format("memory").queryName(name).outputMode(mode),
        MEMORY_STREAM_TIMEOUT_S,
        f"stream {name!r}",
    )


def domain_running_stats(docs: DataFrame, domain) -> DataFrame:
    """Running per-domain corpus accounting over a documents stream — the
    incremental form of the batch domain_stats operator (a crawl frontier
    updates its per-domain budget as pages ARRIVE, not in a nightly
    batch). A plain streaming groupBy aggregation: state is one row per
    registered domain, bounded by the domain vocabulary — NOT the doc
    stream — so it needs no watermark eviction; sums are exact integers,
    so the final state is order/batching-independent."""
    return (
        docs.select(
            domain.alias("domain"),
            F.size(F.split("text", " ")).alias("nt"),
            F.length("text").alias("nc"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum("nc").cast("bigint").alias("n_chars"),
        )
    )


# crawl_key = url \t fixed-width timestamp: one string key identifying the
# exact (url, warc_ts) crawl a triple came from. The timestamp format is
# fixed-width microseconds, so WITHIN one url lexicographic order on the
# key == chronological order of crawls, and max(crawl_key) per url is the
# newest crawl regardless of which micro-batch delivered it. A NULL
# warc_ts drops the suffix entirely (concat_ws skips nulls) → the bare-url
# key sorts below every timestamped key, so an untimestamped crawl loses
# to any timestamped recrawl, matching the batch as-of's epoch-coalesce.
#
# Precondition (the WARC invariant): (url, warc_ts) uniquely identifies a
# page VERSION. Two different page bodies sharing a url AND a warc_ts
# share a crawl_key; the batch as-of would keep an arbitrary one of them
# while the stream would merge both — neither side has information to
# prefer one. datagen guarantees strictly increasing recrawl timestamps,
# and real WARC capture timestamps are per-fetch.
_CRAWL_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _crawl_key():
    return F.concat_ws(
        "\t", F.col("url"), F.date_format(F.col("warc_ts"), _CRAWL_TS_FMT)
    )


def stream_build_triples(
    pages_stream: DataFrame, target: str,
    validate_warc: bool = False,
    drop_near_dups: bool | str = False,
) -> None:
    """Incremental KG construction (the crawl-as-it-arrives shape): each
    micro-batch of pages runs the SAME batch pipeline (pipeline.
    build_triples — extract → GLRE inference → linking → in-batch dedup)
    via foreachBatch and appends its triples AT CRAWL GRANULARITY: every
    appended row carries the crawl_key (url + warc_ts) of the page version
    that produced it. That key is what makes the log safe under recrawls
    that span micro-batches — the in-batch as-of dedup can only see
    recrawls within its own batch, so a url recrawled in a LATER batch
    leaves both versions' triples in the log, and read_stream_triples
    resolves the winner (max warc_ts per url, exactly the batch as-of
    rule) at read time before the associative re-aggregation (max score /
    min url / sum n_sources). Hence

        stream(batches) → append → resolve latest crawl → re-dedup
            ≡  one-shot batch run

    exactly, for ANY assignment of crawls to micro-batches and ANY arrival
    order — asserted in tests/test_streaming.py (including a newer crawl
    arriving in a later batch AND a stale crawl arriving after the newer
    one). Drives availableNow to completion; raises on timeout rather than
    leaving a partial sink.

    The winner CANNOT be derived from the triple log alone: a crawl whose
    inference yields ZERO triples leaves no rows there, so a newer
    zero-triple crawl would silently lose to a stale triple-bearing one.
    Each batch therefore also appends every eligible (url, crawl_key) it
    saw — eligibility = the SAME admission filter the batch pipeline
    applies (pipeline.eligible_pages), because a filtered-out crawl must
    not count as a url's latest version — to a tiny crawl-registry sidecar
    (``target + "_crawls"``); the registry, not the triples, elects each
    url's newest crawl at read time.

    Scale note: the log stores per-crawl (not globally aggregated) triples
    — the price of incremental exactness. At web scale a periodic
    compaction job can fold the read-time resolution into the log (drop
    rows of superseded crawl_keys, then re-aggregate) without changing any
    reader's result, because the resolution is idempotent.

    ``validate_warc=True`` turns the WARC-invariant precondition (see
    _crawl_key: one page body per (url, warc_ts)) from a docstring into a
    per-micro-batch check: a malformed feed delivering two DIFFERENT
    bodies under one crawl_key fails the batch loudly instead of silently
    merging both versions' triples. Off by default — it costs one extra
    agg pass over each micro-batch.

    ``drop_near_dups`` is BATCH-ONLY in its exact form: the keeper
    decision needs the whole corpus, but foreachBatch sees one
    micro-batch, so a streaming keeper can never drop a near-dup of a
    page that arrived in an EARLIER micro-batch — stream ≡ batch does
    NOT hold for it the way it does for recrawls. Passing ``True``
    therefore raises (loud, not silently approximate). The explicit
    opt-in ``"batch_local"`` runs pipeline.build_triples(
    drop_near_dups=True) per micro-batch with exactly these guaranteed
    semantics (pinned in tests/test_streaming.py): near-dups arriving
    WITHIN one micro-batch are deduped; near-dups split ACROSS
    micro-batches are all kept (the downstream exact (subj,pred,obj)
    dedup still collapses their identical triples — what batch_local
    saves is the in-batch inference compute, not log rows). At scale the
    exact decision is a periodic batch keeper job joined against the
    log, not a streaming operator.

    Write ordering is deliberate: triples append BEFORE the registry
    append. A crash between the two leaves triple rows whose crawl_key no
    registry entry elects — readers drop them (the batch reads as
    never-happened) and the checkpoint replay re-appends bit-identical
    rows that _dedup_replays collapses. The reverse order would register
    the new crawl as a url's winner with ZERO triples in the log, making
    that url's triples vanish until (if ever) the batch is replayed."""
    from glre_spark.pipeline import build_triples, eligible_pages

    if drop_near_dups is True:
        raise ValueError(
            "drop_near_dups=True is batch-only: a streaming keeper cannot "
            "see near-dups from earlier micro-batches, so stream ≡ batch "
            "would silently break. Pass drop_near_dups='batch_local' for "
            "the documented within-batch-only dedup, or run the exact "
            "keeper as a periodic batch job over the compacted log."
        )
    if drop_near_dups not in (False, "batch_local"):
        raise ValueError(f"drop_near_dups: expected False or 'batch_local', got {drop_near_dups!r}")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        keyed = batch_df.withColumn("crawl_key", _crawl_key())
        if validate_warc:
            # Canonical body fingerprint: hash the (html, text) TUPLE with
            # per-field null markers, not coalesce(html, text) — coalesce
            # compares a NULL-html row by its text against another row's
            # html bytes (and calls an all-NULL body equal to anything
            # coalescing to the same value), letting ambiguous versions
            # slip the guard (ADVICE r5). \x01=NULL, \x02+bytes=present,
            # \x00 separator: injective over the tuple.
            body = F.concat(
                F.when(F.col("html").isNull(), F.lit(b"\x01")).otherwise(
                    F.concat(F.lit(b"\x02"), F.col("html"))
                ),
                F.lit(b"\x00"),
                F.when(F.col("text").isNull(), F.lit(b"\x01")).otherwise(
                    F.concat(F.lit(b"\x02"), F.encode("text", "UTF-8"))
                ),
            )
            bad = (
                keyed.groupBy("crawl_key")
                .agg(F.count_distinct(F.md5(body)).alias("n_bodies"))
                .filter(F.col("n_bodies") > 1)
                .limit(3)
                .collect()
            )
            if bad:
                keys = [r["crawl_key"] for r in bad]
                raise ValueError(
                    "WARC invariant violated: multiple distinct page bodies "
                    f"share one (url, warc_ts) crawl_key — e.g. {keys}; "
                    "refusing to merge ambiguous page versions"
                )
        triples = build_triples(
            spark, keyed, group_col="crawl_key",
            drop_near_dups=(drop_near_dups == "batch_local"),
        )
        (
            triples.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("append")
            .parquet(target)
        )
        (
            eligible_pages(keyed)
            .select("url", "crawl_key")
            .distinct()
            .write.mode("append")
            .parquet(target + "_crawls")
        )

    _run_bounded(
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", target + "_ckpt"),
        BUILD_STREAM_TIMEOUT_S,
        "streaming KG build",
    )


def _heal_compact_swap(path: str) -> None:
    """Crash-recovery probe for compact_stream_triples' two-rename swap.
    Between rename(live → bak) and rename(tmp → live) the live dir does
    not exist; if a crash landed in that window, restore the backup. If
    the crash instead landed AFTER the swap but before the backup rmtree,
    the live dir is the new log and the backup is stale — delete it so no
    later heal can resurrect pre-compaction data. Local-filesystem paths
    only (the sandbox's lake); at real scale the whole swap is one
    Iceberg/Delta REPLACE transaction and this probe is moot."""
    import os
    import shutil

    bak = path + "_compact_bak"
    if os.path.exists(bak):
        # Concurrent readers all run this probe with no mutual exclusion
        # (only the compaction WRITER is documented single-instance), so
        # two readers can race on the same heal: the loser's rename/rmtree
        # raises FileNotFoundError. A lost race means the other reader
        # already healed — re-check state and treat it as done rather than
        # propagating (ADVICE r5).
        try:
            if not os.path.exists(path):
                os.rename(bak, path)
            else:
                shutil.rmtree(bak)
        except FileNotFoundError:
            if not os.path.exists(path) and os.path.exists(bak):
                raise  # genuinely torn state the race story can't explain


def _crawl_winners(spark: SparkSession, target: str) -> DataFrame:
    """The single winner-election rule shared by reads and compaction:
    per url, the registered crawl with max crawl_key (== max warc_ts, see
    _CRAWL_TS_FMT). One definition — compaction can never elect
    differently than a read."""
    _heal_compact_swap(target + "_crawls")
    return (
        spark.read.parquet(target + "_crawls")
        .groupBy("url")
        .agg(F.max("crawl_key").alias("crawl_key"))
    )


def _dedup_replays(log: DataFrame) -> DataFrame:
    """foreachBatch is at-least-once: a micro-batch whose parquet append
    committed but whose checkpoint offset did not gets REPLAYED on
    restart, appending bit-identical rows (same batch_id — the pipeline is
    deterministic) a second time. Full-row distinct removes exactly those
    replays and nothing else: legitimate rows from different batches
    differ in batch_id, and within one batch rows are unique by the
    group-scoped dedup. This is the read-side half of exactly-once over an
    append-only log."""
    return log.distinct()


def compact_stream_triples(spark: SparkSession, target: str) -> dict:
    """Fold the read-time resolution into the log: rewrite the triple log
    keeping only rows belonging to each url's winning (max-warc_ts) crawl
    (and dropping at-least-once replay duplicates), then collapse the
    crawl registry to the winners. Crawl granularity is PRESERVED (rows
    keep their crawl_key), so later micro-batches appended after a
    compaction still resolve exactly — a newer recrawl simply supersedes
    the compacted winner at the next read or compaction. Idempotent: a
    second run removes nothing. Readers see identical results before and
    after (asserted in tests/test_streaming.py).

    Single-writer maintenance op: run it while NO stream is appending to
    ``target`` — an append landing between the rewrite scan and the swap
    below would be lost (at scale this whole op is one Iceberg/Delta
    REPLACE transaction, which conflicts-or-serializes with appends
    instead). The two-rename swap has a crash window in which the live
    dir briefly does not exist; every log/registry access (here and in
    _crawl_winners / read_stream_triples) first runs _heal_compact_swap,
    which restores the backup after a mid-swap crash and clears a stale
    backup after a post-swap crash — so a crashed compaction self-repairs
    on the next touch. Returns {"rows_before", "rows_after"}."""
    import os
    import shutil

    crawls_path = target + "_crawls"
    _heal_compact_swap(target)
    _heal_compact_swap(crawls_path)
    winners = _crawl_winners(spark, target)
    log = _dedup_replays(spark.read.parquet(target))
    kept = log.join(winners.select("crawl_key"), "crawl_key", "left_semi")
    rows_before = spark.read.parquet(target).count()
    tmp_log, tmp_crawls = target + "_compact_tmp", crawls_path + "_compact_tmp"
    kept.write.mode("overwrite").parquet(tmp_log)
    winners.write.mode("overwrite").parquet(tmp_crawls)
    rows_after = spark.read.parquet(tmp_log).count()
    for live, tmp in ((target, tmp_log), (crawls_path, tmp_crawls)):
        bak = live + "_compact_bak"
        os.rename(live, bak)
        os.rename(tmp, live)
        shutil.rmtree(bak)
    return {"rows_before": rows_before, "rows_after": rows_after}


def read_stream_triples(spark: SparkSession, target: str) -> DataFrame:
    """Resolve the latest crawl per url (the batch as-of rule, applied
    across micro-batches) via the crawl registry, then re-apply the global
    dedup invariant over the surviving rows. max(crawl_key) per url IS
    max(warc_ts) per url — see _CRAWL_TS_FMT. The winners join is a
    left-semi hash join on crawl_key (the winner set is one row per url —
    broadcastable at any realistic url count per log segment); no window,
    no sort, and a winning zero-triple crawl correctly contributes
    nothing."""
    from glre_spark.linking import dedup_triples

    _heal_compact_swap(target)
    winners = _crawl_winners(spark, target).select("crawl_key")
    log = _dedup_replays(spark.read.parquet(target)).drop("batch_id")
    kept = log.join(winners, "crawl_key", "left_semi").drop("crawl_key")
    return dedup_triples(kept)
