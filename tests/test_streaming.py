"""Batch/stream parity for the event window ops (SURVEY.md §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glre_spark.datagen import PAGES_SCHEMA
from glre_spark.streaming import (
    EVENTS_SCHEMA,
    read_stream,
    run_stream_to_memory,
    tumbling_counts,
)
from tests.conftest import SF_DIR


def _stage_one_file(df, src_dir, name, mtime=None):
    """Write ``df`` as exactly one parquet FILE under ``src_dir`` with an
    optional controlled mtime — the file stream source processes files
    oldest-mtime-first, so mtime ordering pins micro-batch arrival order."""
    import glob
    import os
    import shutil

    tmp = os.path.join(src_dir, f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
    dst = os.path.join(src_dir, name)
    shutil.copy(part, dst)
    shutil.rmtree(tmp)
    if mtime is not None:
        os.utime(dst, (mtime, mtime))


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    # file stream source needs a directory; stage the single parquet file
    import shutil

    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-000.parquet")
    path = str(src_dir)
    stream = read_stream(spark, path, EVENTS_SCHEMA)
    assert stream.isStreaming
    run_stream_to_memory(tumbling_counts(stream), "tumbling_mem")
    got = {
        (r.w_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM tumbling_mem").collect()
    }
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    want = {(r.w_start, r.event_type): r.n for r in batch.collect()}
    assert got == want


def test_stateful_operator_accumulates_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: state must carry across micro-batches (the
    source is split into many files, maxFilesPerTrigger=4 → several
    triggers), and the final running totals must equal the batch agg
    (integer cents, HALF_UP per event, on both sides)."""
    from glre_spark.operators import cents
    from glre_spark.streaming import stateful_user_totals

    src_dir = str(tmp_path / "events_many")
    batch_src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch_src.repartition(12).write.parquet(src_dir)  # ≥3 micro-batches

    stream = read_stream(spark, src_dir, EVENTS_SCHEMA)
    run_stream_to_memory(stateful_user_totals(stream), "stateful_mem", mode="update")
    updates = spark.sql("SELECT * FROM stateful_mem")
    # several updates per user (state crossed batches), final = max
    final = {
        r.user_id: (r.n_events, r.sum_cents)
        for r in updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_cents", "n_events").alias("sum_cents"),
        )
        .collect()
    }
    assert updates.count() > len(final), "state never crossed a micro-batch"
    want = {
        r.user_id: (r.n, r.c)
        for r in batch_src.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents(F.col("value"))).alias("c"),
        )
        .collect()
    }
    assert final == want


def test_streaming_sliding_matches_batch(spark, tmp_path):
    import shutil

    from glre_spark.streaming import sliding_counts

    src_dir = tmp_path / "events_sliding"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src_dir / "part-000.parquet")
    stream = read_stream(spark, str(src_dir), EVENTS_SCHEMA)
    run_stream_to_memory(sliding_counts(stream), "sliding_mem")
    got = {
        (r.w_start, r.event_type): r.n
        for r in spark.sql("SELECT * FROM sliding_mem").collect()
    }
    batch = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    want = {(r.w_start, r.event_type): r.n for r in batch.collect()}
    assert got == want and len(got) > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-deliveries of the same event_id in
    LATER micro-batches (within the watermark) are dropped; the surviving
    set equals the batch distinct-on-event_id."""
    from glre_spark.streaming import dedup_events_stream

    src_dir = str(tmp_path / "dup_events")
    batch_src = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(200)
    # duplicate EVERY event into a second set of files → cross-batch dupes
    batch_src.repartition(4).write.parquet(src_dir)
    batch_src.repartition(4).write.mode("append").parquet(src_dir)

    stream = read_stream(spark, src_dir, EVENTS_SCHEMA, files_per_trigger=2)
    run_stream_to_memory(dedup_events_stream(stream), "dedup_mem", mode="append")
    got = spark.sql("SELECT event_id, count(*) AS c FROM dedup_mem GROUP BY event_id")
    assert got.filter("c > 1").count() == 0, "a re-delivered event survived"
    assert got.count() == batch_src.select("event_id").distinct().count()


def test_watermark_drops_late_rows(spark, tmp_path):
    """SURVEY §2.10's streaming-only contract: an event arriving behind the
    watermark must be dropped, not aggregated into its finalized window.

    Spark ≥3.4 filters late events with the PREVIOUS micro-batch's
    watermark (SPARK-40925: lateEvents wm lags eviction wm by one batch),
    so the straggler must arrive ≥2 batches after the event-time advance:
    trigger 1 (f1) advances max event time to 10:30; trigger 2 (f2) runs
    with eviction watermark 10:20 and hands 10:20 on as trigger 3's
    late-events watermark; trigger 3 (f3) delivers a 10:01 straggler → it
    is behind 10:20 and must be dropped. If tumbling_counts loses its
    withWatermark call, the straggler is aggregated instead and the
    [10:00,10:05) window emits a second update row — failing this test."""
    import datetime as dt
    import os
    import time

    def write_events_file(rows, src_dir, name, mtime):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA)
        _stage_one_file(df, src_dir, name, mtime)

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
    src = str(tmp_path / "late_events")
    os.makedirs(src)
    now = time.time()
    write_events_file(
        [(1, t(0), 1, "click", 1.0, "{}"), (2, t(2), 1, "click", 1.0, "{}"),
         (3, t(30), 1, "click", 1.0, "{}")],
        src, "f1.parquet", now - 180,
    )
    write_events_file(
        [(4, t(31), 1, "click", 1.0, "{}")], src, "f2.parquet", now - 120
    )
    write_events_file(
        [(5, t(1), 1, "click", 1.0, "{}"),   # LATE: behind the 10:20 watermark
         (6, t(32), 1, "click", 1.0, "{}")],
        src, "f3.parquet", now - 60,
    )

    stream = read_stream(spark, src, EVENTS_SCHEMA, files_per_trigger=1)
    run_stream_to_memory(tumbling_counts(stream), "late_mem", mode="update")
    # update-mode memory sink accumulates per-trigger update rows; the
    # [10:00,10:05) window must have exactly ONE update (n=2 from trigger
    # 1) — a dropped withWatermark would add a second row for it (n=3
    # merged, or n=1 re-created after eviction)
    rows = spark.sql("SELECT w_start, n FROM late_mem").collect()
    w0 = sorted(r.n for r in rows if r.w_start == t(0))
    w30 = sorted(r.n for r in rows if r.w_start == t(30))
    assert w0 == [2], f"late straggler touched the finalized window: {w0}"
    assert w30 == [1, 2, 3]  # on-time rows in every trigger DID update it


def test_streaming_kg_build_equals_batch(spark, tmp_path):
    """Incremental KG construction: pages streamed in micro-batches
    through the SAME pipeline, appended, then re-deduped must equal the
    one-shot batch run EXACTLY (associative re-aggregation)."""
    from glre_spark.datagen import pages_df
    from glre_spark.pipeline import build_triples
    from glre_spark.streaming import (
        read_stream_triples,
        stream_build_triples,
    )

    src = str(tmp_path / "pages_src")
    target = str(tmp_path / "stream_triples")
    pages = pages_df(spark, 120, partitions=8)  # 8 files / 4 per trigger → 2+ batches
    pages.write.parquet(src)

    stream_build_triples(read_stream(spark, src, PAGES_SCHEMA), target)

    got = {
        (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
        for r in read_stream_triples(spark, target).collect()
    }
    want = {
        (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
        for r in build_triples(spark, spark.read.parquet(src)).collect()
    }
    assert got == want and len(got) > 0


def test_all_filtered_microbatch_yields_observation(spark, tmp_path):
    """A foreachBatch micro-batch whose pages all fail the admission
    filter: an observation on build_triples' input must still be
    delivered after the batch's write (AQE drops an empty exchange stage
    from the final plan; the pipeline keeps its url exchange's stage)."""
    from pyspark.sql import Observation

    from glre_spark.datagen import pages_df
    from glre_spark.pipeline import build_triples

    src = str(tmp_path / "pages_src")
    pages_df(spark, 16, partitions=4).withColumn("lang", F.lit("de")).write.parquet(src)
    seen = []

    def process(batch_df, batch_id):
        obs = Observation(f"batch_{batch_id}")
        triples = build_triples(
            batch_df.sparkSession,
            batch_df.observe(obs, F.count(F.lit(1)).alias("rows")),
        )
        triples.write.format("noop").mode("overwrite").save()
        seen.append(obs.get["rows"])

    q = (
        read_stream(spark, src, PAGES_SCHEMA).writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(300)
    assert q.exception() is None
    assert sum(seen) == 16 and len(seen) >= 1


def _write_page_file(spark, doc_ids, src_dir, name, mtime):
    """One parquet FILE of generated pages with a controlled mtime."""
    from glre_spark.datagen import gen_page_row

    rows = [gen_page_row(i) for i in doc_ids]
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        PAGES_SCHEMA,
    )
    _stage_one_file(df, src_dir, name, mtime)


def test_streaming_recrawl_across_microbatches(spark, tmp_path):
    """A recrawl landing in a DIFFERENT micro-batch than the original crawl
    must resolve exactly like the batch as-of dedup, in every arrival
    order and triple-yield shape: (A) url of doc 6 — original arrives
    first, newer recrawl (doc 7, same url, later warc_ts, different
    content) arrives in a later batch; (B) url of doc 16 — the NEWER crawl
    (doc 17) arrives first and the stale original arrives later and must
    lose; (C) url of doc 76 — the stale crawl yields triples but the newer
    recrawl (doc 77) yields ZERO, so the url must vanish from the result
    (the case only the crawl-registry sidecar can resolve: the triple log
    never sees the winning crawl)."""
    import os
    import time

    from glre_spark.datagen import doc_url
    from glre_spark.pipeline import build_triples
    from glre_spark.streaming import (
        read_stream_triples,
        stream_build_triples,
    )

    src = str(tmp_path / "pages_src")
    target = str(tmp_path / "stream_triples")
    os.makedirs(src)
    now = time.time()
    # all ids lang='en'; pairs (6,7), (16,17), (76,77) share a url with
    # strictly increasing warc_ts; doc 77 produces no predictions
    _write_page_file(spark, [6, 17, 21, 76], src, "b1.parquet", now - 120)
    _write_page_file(spark, [7, 16, 22, 77], src, "b2.parquet", now - 60)

    stream_build_triples(read_stream(spark, src, PAGES_SCHEMA, files_per_trigger=1), target)

    log = spark.read.parquet(target)
    crawls = spark.read.parquet(target + "_crawls")
    assert log.select("batch_id").distinct().count() >= 2, "expected ≥2 micro-batches"
    # both crawls of each shared url were registered (the divergence
    # scenario is real, not accidentally collapsed in-batch)
    for base in (6, 16, 76):
        n_keys = (
            crawls.filter(F.col("url") == doc_url(base))
            .select("crawl_key")
            .distinct()
            .count()
        )
        assert n_keys == 2, f"url of doc {base}: expected 2 registered crawls"
    # case C precondition: the stale crawl's triples ARE in the log and the
    # winning (newer) crawl left none — resolution must drop the url
    stale76, new76 = sorted(
        r.crawl_key
        for r in crawls.filter(F.col("url") == doc_url(76))
        .select("crawl_key")
        .distinct()
        .collect()
    )
    assert log.filter(F.col("crawl_key") == stale76).count() > 0
    assert log.filter(F.col("crawl_key") == new76).count() == 0

    got = {
        (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
        for r in read_stream_triples(spark, target).collect()
    }
    batch_pages = spark.read.parquet(src)
    want = {
        (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
        for r in build_triples(spark, batch_pages).collect()
    }
    assert got == want and len(got) > 0


def test_stream_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a batch whose append committed but
    whose checkpoint offset didn't is replayed verbatim on restart.
    Re-appending a batch's exact rows (triples AND registry) must not
    change what readers see — n_sources especially must not double."""
    import os
    import time

    from glre_spark.pipeline import build_triples
    from glre_spark.streaming import (
        read_stream_triples,
        stream_build_triples,
    )

    src = str(tmp_path / "pages_src")
    target = str(tmp_path / "stream_triples")
    os.makedirs(src)
    now = time.time()
    _write_page_file(spark, [6, 21], src, "b1.parquet", now - 120)
    _write_page_file(spark, [7, 22], src, "b2.parquet", now - 60)
    stream_build_triples(read_stream(spark, src, PAGES_SCHEMA, files_per_trigger=1), target)

    def result():
        return {
            (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
            for r in read_stream_triples(spark, target).collect()
        }

    want = {
        (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
        for r in build_triples(spark, spark.read.parquet(src)).collect()
    }
    assert result() == want
    # simulate the replay: re-append batch 0's rows bit-identically
    log = spark.read.parquet(target)
    n_clean = log.count()
    log.filter("batch_id = 0").write.mode("append").parquet(target)
    crawls = spark.read.parquet(target + "_crawls")
    crawls.write.mode("append").parquet(target + "_crawls")
    assert result() == want, "replayed batch changed the read result"
    # compaction must physically remove the replayed rows too (it applies
    # the same replay-dedup before the winners rewrite)
    from glre_spark.streaming import compact_stream_triples

    stats = compact_stream_triples(spark, target)
    assert stats["rows_after"] <= n_clean, "compaction kept replayed rows"
    assert result() == want, "compaction after replay changed the result"


def test_stream_log_compaction(spark, tmp_path):
    """Compaction folds the latest-crawl resolution into the log: stale-
    crawl rows are physically dropped, readers see identical results
    before/after, a second compaction is a no-op, and batches streamed
    AFTER a compaction (a yet-newer recrawl of an already-compacted url)
    still resolve exactly against the one-shot batch run."""
    import datetime
    import os
    import time

    from glre_spark.datagen import gen_page_row
    from glre_spark.pipeline import build_triples
    from glre_spark.streaming import (
        compact_stream_triples,
        read_stream_triples,
        stream_build_triples,
    )

    src = str(tmp_path / "pages_src")
    target = str(tmp_path / "stream_triples")
    os.makedirs(src)
    now = time.time()
    _write_page_file(spark, [6, 21], src, "b1.parquet", now - 180)
    _write_page_file(spark, [7, 22], src, "b2.parquet", now - 120)
    stream_build_triples(read_stream(spark, src, PAGES_SCHEMA, files_per_trigger=1), target)

    def result():
        return {
            (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
            for r in read_stream_triples(spark, target).collect()
        }

    before = result()
    stats = compact_stream_triples(spark, target)
    assert stats["rows_after"] < stats["rows_before"], "no stale rows dropped"
    assert result() == before, "compaction changed the read result"
    stats2 = compact_stream_triples(spark, target)
    assert stats2["rows_after"] == stats2["rows_before"], "compaction not idempotent"

    # stream a THIRD, even newer recrawl of doc 6's url after compaction
    # (doc 7's crawl was the compacted winner; synthesize a later one)
    r7 = gen_page_row(7)
    newer = dict(r7, warc_ts=r7["warc_ts"] + datetime.timedelta(days=5))
    df = spark.createDataFrame(
        [(newer["url"], newer["warc_ts"], newer["html"], newer["text"], newer["lang"])],
        PAGES_SCHEMA,
    )
    _stage_one_file(df, src, "b3.parquet")
    # same checkpoint dir → availableNow processes ONLY the new file
    stream_build_triples(read_stream(spark, src, PAGES_SCHEMA, files_per_trigger=1), target)

    want = {
        (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
        for r in build_triples(
            spark,
            spark.read.parquet(os.path.join(src, "b1.parquet")).unionByName(
                spark.read.parquet(os.path.join(src, "b2.parquet"))
            ).unionByName(df),
        ).collect()
    }
    assert result() == want


def test_warc_invariant_guard_rejects_ambiguous_bodies(spark, tmp_path):
    """validate_warc=True: a feed delivering two DIFFERENT page bodies
    under one (url, warc_ts) crawl_key must fail the micro-batch loudly
    (ADVICE r4 / VERDICT r4 #4) instead of silently merging both
    versions' triples."""
    import os

    from glre_spark.datagen import gen_page_row
    from glre_spark.streaming import stream_build_triples

    src = str(tmp_path / "pages_src")
    target = str(tmp_path / "stream_triples")
    os.makedirs(src)
    r = gen_page_row(6)
    bad = dict(r, text=r["text"] + " An extra tampered sentence .",
               html=r["html"] + b"<!-- tampered -->")
    df = spark.createDataFrame(
        [
            (x["url"], x["warc_ts"], x["html"], x["text"], x["lang"])
            for x in (r, bad)
        ],
        PAGES_SCHEMA,
    )
    _stage_one_file(df, src, "b1.parquet")
    with pytest.raises(Exception, match="WARC invariant"):
        stream_build_triples(
            read_stream(spark, src, PAGES_SCHEMA), target, validate_warc=True
        )


def test_compact_swap_crash_self_heals(spark, tmp_path):
    """A crash inside compact_stream_triples' two-rename swap window
    leaves the live log missing and the backup present; the next reader
    must restore it transparently. A crash AFTER the swap (stale backup
    beside a live log) must clear the backup so it can never resurrect
    pre-compaction data (ADVICE r4 #1)."""
    import os
    import time

    from glre_spark.streaming import (
        read_stream_triples,
        stream_build_triples,
    )

    src = str(tmp_path / "pages_src")
    target = str(tmp_path / "stream_triples")
    os.makedirs(src)
    now = time.time()
    _write_page_file(spark, [6, 21], src, "b1.parquet", now - 120)
    stream_build_triples(read_stream(spark, src, PAGES_SCHEMA), target)

    def result():
        return {
            (r.subj, r.pred, r.obj, r.score, r.url, r.n_sources)
            for r in read_stream_triples(spark, target).collect()
        }

    want = result()
    assert want, "fixture produced no triples"

    # (a) mid-swap crash: live dir gone, backup holds the log
    os.rename(target, target + "_compact_bak")
    assert not os.path.exists(target)
    assert result() == want, "reader did not heal a mid-swap crash"
    assert os.path.exists(target) and not os.path.exists(target + "_compact_bak")

    # (b) post-swap crash: stale backup beside the live log → cleared
    os.makedirs(os.path.join(target + "_compact_bak", "stale"))
    assert result() == want
    assert not os.path.exists(target + "_compact_bak"), "stale backup survived"


def test_warc_guard_catches_null_body_representation_ambiguity(spark, tmp_path):
    """The body fingerprint must hash the (html, text) TUPLE with null
    markers (ADVICE r5): a crawl_key pairing a NULL-html row (old guard
    compared it by text) with an html row whose BYTES equal that text
    used to collapse to one body and slip the guard — these are
    ambiguous versions and must be rejected."""
    import os

    from glre_spark.datagen import gen_page_row
    from glre_spark.streaming import stream_build_triples

    src = str(tmp_path / "pages_src")
    target = str(tmp_path / "stream_triples")
    os.makedirs(src)
    r = gen_page_row(6)
    df = spark.createDataFrame(
        [
            (r["url"], r["warc_ts"], None, "abc", r["lang"]),
            (r["url"], r["warc_ts"], b"abc", "something else", r["lang"]),
        ],
        PAGES_SCHEMA,
    )
    _stage_one_file(df, src, "b1.parquet")
    with pytest.raises(Exception, match="WARC invariant"):
        stream_build_triples(
            read_stream(spark, src, PAGES_SCHEMA), target, validate_warc=True
        )


def test_stream_drop_near_dups_true_is_refused(spark, tmp_path):
    """drop_near_dups=True is batch-only (the keeper needs the whole
    corpus; foreachBatch sees one micro-batch) — the streaming surface
    must refuse it loudly, pointing at the 'batch_local' opt-in
    (VERDICT r5 next-round #6)."""
    import os

    from glre_spark.streaming import stream_build_triples

    src = str(tmp_path / "pages_src")
    os.makedirs(src)
    _write_page_file(spark, [6], src, "b1.parquet", None)
    with pytest.raises(ValueError, match="batch_local"):
        stream_build_triples(
            read_stream(spark, src, PAGES_SCHEMA), str(tmp_path / "t"),
            drop_near_dups=True,
        )
    with pytest.raises(ValueError, match="batch_local"):
        stream_build_triples(
            read_stream(spark, src, PAGES_SCHEMA), str(tmp_path / "t"),
            drop_near_dups="typo_mode",
        )


def test_stream_drop_near_dups_batch_local_semantics(spark, tmp_path):
    """Pins EXACTLY what drop_near_dups='batch_local' guarantees
    (VERDICT r5 next-round #6): a byte-identical mirror arriving in the
    SAME micro-batch as its original is dropped before inference (its
    crawl_key leaves zero triple rows in the log), while a mirror whose
    original arrived in an EARLIER micro-batch is KEPT (batch-local
    blindness — the documented approximation; the downstream exact
    (subj,pred,obj) dedup still collapses its identical triples at
    read time)."""
    import os
    import time

    from glre_spark.datagen import gen_page_row
    from glre_spark.streaming import stream_build_triples

    def mirror(row, tag):
        return dict(row, url=row["url"] + "?" + tag)

    # ids chosen so BOTH the originals and their re-urled mirrors yield
    # predictions (doc 16-style zero-pred docs would make dropped vs
    # kept indistinguishable in the log)
    d6, d16 = gen_page_row(6), gen_page_row(11)
    src = str(tmp_path / "pages_src")
    os.makedirs(src)
    now = time.time()

    def stage(rows, name, mtime):
        df = spark.createDataFrame(
            [(x["url"], x["warc_ts"], x["html"], x["text"], x["lang"]) for x in rows],
            PAGES_SCHEMA,
        )
        _stage_one_file(df, src, name, mtime)

    # batch 1: doc6 + its in-batch mirror; doc16 (original for the
    # cross-batch case)        batch 2: doc16's mirror, one batch later
    stage([d6, mirror(d6, "m1"), d16], "b1.parquet", now - 120)
    stage([mirror(d16, "m2")], "b2.parquet", now - 60)

    target = str(tmp_path / "stream_triples")
    stream_build_triples(
        read_stream(spark, src, PAGES_SCHEMA, files_per_trigger=1), target,
        drop_near_dups="batch_local",
    )

    log = spark.read.parquet(target)
    crawls = spark.read.parquet(target + "_crawls")
    assert log.select("batch_id").distinct().count() >= 2

    def log_rows(url):
        keys = [r.crawl_key for r in crawls.filter(F.col("url") == url).collect()]
        assert keys, f"{url} missing from crawl registry"
        return log.filter(F.col("crawl_key").isin(keys)).count()

    assert log_rows(d6["url"]) > 0, "in-batch original must keep its triples"
    assert log_rows(d6["url"] + "?m1") == 0, (
        "in-batch mirror must be dropped before inference"
    )
    assert log_rows(d16["url"]) > 0
    assert log_rows(d16["url"] + "?m2") > 0, (
        "cross-batch mirror is KEPT — batch_local cannot see earlier batches"
    )


def test_heal_compact_swap_lost_race_is_benign(tmp_path, monkeypatch):
    """Two readers racing the same heal: the loser's rename/rmtree raises
    FileNotFoundError after the winner already healed — must be treated
    as success, not propagated; a genuinely torn state still raises
    (ADVICE r5)."""
    import os
    import shutil

    from glre_spark.streaming import _heal_compact_swap

    # (a) lost rename race: our rename "fails" but the winner's landed
    live = str(tmp_path / "log")
    bak = live + "_compact_bak"
    os.makedirs(bak)
    real_rename = os.rename

    def racing_rename(src, dst):
        real_rename(src, dst)  # the concurrent winner's rename...
        raise FileNotFoundError(src)  # ...made OUR attempt observe ENOENT

    monkeypatch.setattr(os, "rename", racing_rename)
    _heal_compact_swap(live)  # must swallow
    monkeypatch.undo()
    assert os.path.isdir(live) and not os.path.exists(bak)

    # (b) lost rmtree race on the stale-backup branch
    os.makedirs(bak)
    real_rmtree = shutil.rmtree

    def racing_rmtree(p, **kw):
        real_rmtree(p, **kw)
        raise FileNotFoundError(p)

    monkeypatch.setattr(shutil, "rmtree", racing_rmtree)
    _heal_compact_swap(live)
    monkeypatch.undo()
    assert os.path.isdir(live) and not os.path.exists(bak)

    # (c) genuinely torn (no winner healed anything): re-raise
    shutil.rmtree(live)
    os.makedirs(bak)

    def failing_rename(src, dst):
        raise FileNotFoundError(src)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(FileNotFoundError):
        _heal_compact_swap(live)
    monkeypatch.undo()
