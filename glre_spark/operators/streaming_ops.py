"""Streaming surface as a registered operator (SURVEY.md §2.10).

``stateful_user_totals`` drives the applyInPandasWithState operator from
glre_spark/streaming.py through a real bounded stream (file source split
into several micro-batches, trigger=availableNow) and returns the FINAL
per-user state — which is deterministic (running totals only ever grow by
whole micro-batches), so it gets a full DuckDB twin: the batch
count/sum-per-user aggregation. State is accumulated in integer cents
(exact, order-independent) per the repo's float-parity convention.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile

from pyspark.sql import functions as F

from glre_spark.operators import fround, load, op
from glre_spark.operators.textops import DOMAIN_STATS_SQL, _domain_col, with_avg_chars

_MEM_SEQ = itertools.count()


@op(
    "stateful_user_totals",
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
              ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 + 1e-9, 2) + 0
                AS sum_value
       FROM events GROUP BY user_id""",
)
def stateful_user_totals_op(spark, sf_dir):
    """Stage events into a 12-file dir (maxFilesPerTrigger=4 → ≥3
    micro-batches), run the arbitrary-stateful stream to a memory sink in
    update mode, then reduce the emitted updates to the final state per
    user (max_by on the strictly-increasing n_events). Equals the batch
    groupBy — the batch↔stream parity contract of §2.10."""
    from glre_spark.streaming import (
        EVENTS_SCHEMA,
        read_stream,
        run_stream_to_memory,
        stateful_user_totals,
    )

    src_dir = tempfile.mkdtemp(prefix="stateful_events_")
    name = f"stateful_totals_mem_{next(_MEM_SEQ)}"
    try:
        load(spark, sf_dir, "events").repartition(12).write.mode("overwrite").parquet(
            src_dir
        )
        updates = stateful_user_totals(read_stream(spark, src_dir, EVENTS_SCHEMA))
        run_stream_to_memory(updates, name, mode="update")
        return (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max("n_events").cast("bigint").alias("n_events"),
                F.max_by("sum_cents", "n_events").alias("sum_cents"),
            )
            .select(
                "user_id",
                "n_events",
                fround(F.col("sum_cents") / 100.0, 2).alias("sum_value"),
            )
            .localCheckpoint(eager=True)  # detach from scratch files + memory sink
        )
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


@op(
    "dedup_events_stream",
    # Full twin (r5, VERDICT r4 #8): the stream sees every original event
    # exactly once plus late RE-DELIVERIES of the newest events (ts within
    # 10 min of the corpus max — inside the 30-min watermark, so their
    # dedup state cannot have been evicted when the re-delivery batch
    # arrives); dropDuplicatesWithinWatermark keeps first occurrences
    # only, so the result is exactly the events table. Values pass through
    # untouched (no arithmetic) → bit-identical doubles.
    "SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def dedup_events_stream_op(spark, sf_dir):
    """Streaming exact dedup driven end-to-end: stage the events table as
    a multi-file stream source (oldest mtimes), append a re-delivery file
    (newest mtime → a LATER micro-batch) duplicating the most recent
    events, and run streaming.dedup_events_stream to an append-mode
    memory sink. The cross-micro-batch re-deliveries must vanish."""
    import os
    import time

    from glre_spark.streaming import (
        EVENTS_SCHEMA,
        dedup_events_stream,
        read_stream,
        run_stream_to_memory,
    )

    src_dir = tempfile.mkdtemp(prefix="dedup_events_")
    name = f"dedup_events_mem_{next(_MEM_SEQ)}"
    try:
        ev = load(spark, sf_dir, "events")
        ev.repartition(8).write.mode("overwrite").parquet(src_dir)
        now = time.time()
        for f in sorted(os.listdir(src_dir)):
            if f.startswith("part-"):
                os.utime(os.path.join(src_dir, f), (now - 600, now - 600))
        (max_ts,) = ev.agg(F.max("ts")).first()
        dups = ev.filter(F.col("ts") >= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES"))
        dups.coalesce(1).write.mode("append").parquet(src_dir)
        for f in sorted(os.listdir(src_dir)):
            p = os.path.join(src_dir, f)
            if f.startswith("part-") and os.path.getmtime(p) > now - 300:
                os.utime(p, (now, now))  # the re-delivery file arrives LAST
        run_stream_to_memory(
            dedup_events_stream(read_stream(spark, src_dir, EVENTS_SCHEMA)),
            name,
            mode="append",
        )
        return (
            spark.table(name)
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


@op("domain_stats_stream", DOMAIN_STATS_SQL)  # batch domain_stats' twin
def domain_stats_stream_op(spark, sf_dir):
    """The incremental form of domain_stats: stage documents as a
    12-file stream (maxFilesPerTrigger=4 -> >=3 micro-batches), run the
    running per-domain aggregation in complete mode, and return the
    final state plus the floor-div average — which must equal the batch
    domain_stats/DuckDB answer exactly."""
    from glre_spark.streaming import (
        DOCS_SCHEMA,
        domain_running_stats,
        read_stream,
        run_stream_to_memory,
    )

    src_dir = tempfile.mkdtemp(prefix="domain_docs_")
    name = f"domain_stats_mem_{next(_MEM_SEQ)}"
    try:
        load(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).repartition(12).write.mode("overwrite").parquet(src_dir)
        agg = domain_running_stats(
            read_stream(spark, src_dir, DOCS_SCHEMA), _domain_col()
        )
        run_stream_to_memory(agg, name, mode="complete")
        # detach from scratch files + memory sink
        return with_avg_chars(spark.table(name)).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


@op("compact_stream_triples", None)  # model inference inside → rows-only
def compact_stream_triples_op(spark, sf_dir):
    """The streaming KG log lifecycle as one driver-checkable surface
    (r5, VERDICT r4 #8): synthesize pages for the first 60 doc_ids of the
    documents table, stream-build the crawl-granular triple log in
    micro-batches, COMPACT it (fold the latest-crawl resolution into the
    log), and return the post-compaction read — which tests assert equals
    the pre-compaction read and the one-shot batch run
    (tests/test_streaming.py::test_stream_log_compaction)."""
    from glre_spark.datagen import PAGES_SCHEMA, pages_from_docs
    from glre_spark.streaming import (
        compact_stream_triples,
        read_stream,
        read_stream_triples,
        stream_build_triples,
    )

    work = tempfile.mkdtemp(prefix="stream_compact_")
    src, target = f"{work}/pages", f"{work}/triples"
    try:
        docs = load(spark, sf_dir, "documents").filter("doc_id < 60")
        pages_from_docs(docs, partitions=4).write.parquet(src)
        stream_build_triples(
            read_stream(spark, src, PAGES_SCHEMA, files_per_trigger=2), target
        )
        compact_stream_triples(spark, target)
        return read_stream_triples(spark, target).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
