"""Exact-resume semantics (north rule; SURVEY.md §5.2.6): an interrupted +
resumed run must produce the identical triple set as an uninterrupted run,
with each bucket group committed exactly once."""

from __future__ import annotations

import pytest

from glre_spark.datagen import pages_df
from glre_spark.lineage import (
    pending_groups,
    read_manifest,
    read_triples,
    run_with_checkpoints,
)

N_DOCS = 60
GROUPS = 3


def _triples(spark, base):
    return sorted(
        (r.subj, r.pred, r.obj, r.score) for r in read_triples(spark, base).collect()
    )


def test_crash_and_resume_equals_single_run(spark, tmp_path):
    straight = str(tmp_path / "straight")
    crashed = str(tmp_path / "crashed")
    pages = pages_df(spark, N_DOCS, partitions=4)

    run_with_checkpoints(spark, pages, straight, n_groups=GROUPS)

    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoints(spark, pages, crashed, n_groups=GROUPS, fail_after=1)
    done_after_crash = GROUPS - len(pending_groups(spark, crashed, GROUPS))
    assert done_after_crash == 1

    run_with_checkpoints(spark, pages, crashed, n_groups=GROUPS)  # resume
    assert _triples(spark, crashed) == _triples(spark, straight)

    manifest = read_manifest(spark, crashed)
    per_group = manifest.filter("status='done'").groupBy("bucket_group").count()
    assert per_group.filter("count > 1").isEmpty()
    assert per_group.count() == GROUPS


def test_missing_manifest_is_empty_first_run(spark, tmp_path):
    import warnings

    # no deprecated-API FutureWarning on the first-run path
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        m = read_manifest(spark, str(tmp_path / "never_ran"))
    assert m.count() == 0


def test_corrupt_manifest_fails_loudly(spark, tmp_path):
    """A damaged manifest must crash the resume, not silently report zero
    completed groups (which would recompute the full corpus at scale)."""
    from pathlib import Path

    from glre_spark.lineage import manifest_path

    base = str(tmp_path / "run")
    run_with_checkpoints(spark, pages_df(spark, 20, partitions=2), base, n_groups=2)
    for f in Path(manifest_path(base)).glob("*.parquet"):
        f.write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|corrupt|FAILED_READ_FILE"):
        pending_groups(spark, base, 2)


def test_obs_failure_propagates(spark, tmp_path, monkeypatch):
    """A genuine failure inside the observation fetch must crash the run —
    NOT be mapped to input_rows=0 in the manifest (the silent-miscount
    shape r2's read_manifest fix removed one layer down). Spark 4.1
    delivers metrics even for an all-empty input (see
    test_empty_corpus_commits_zero_triple_groups), so lineage has no
    except around obs.get; this test pins that error path open."""
    from pyspark.sql import Observation

    def boom(self):
        raise RuntimeError("unrelated observation failure")

    monkeypatch.setattr(Observation, "get", property(boom))
    base = str(tmp_path / "obsfail")
    with pytest.raises(RuntimeError, match="unrelated observation failure"):
        run_with_checkpoints(spark, pages_df(spark, 10, partitions=1), base, n_groups=2)
    # nothing was committed: the manifest records no phantom groups
    assert read_manifest(spark, base).filter("status='done'").count() == 0


def test_empty_corpus_commits_zero_triple_groups(spark, tmp_path):
    """All-filtered input writes no triple partitions at all; the manifest
    must still commit every group with 0 rows instead of crashing on the
    schema-less read-back."""
    base = str(tmp_path / "empty")
    pages = pages_df(spark, 4, partitions=1).filter("1=0")
    run_with_checkpoints(spark, pages, base, n_groups=2)
    m = read_manifest(spark, base).filter("status='done'").collect()
    assert len(m) == 2
    assert all(r.triples == 0 and r.input_rows == 0 for r in m)


def test_manifest_counts_routed_and_admitted_pages(spark, tmp_path):
    """Funnel identities on the manifest: Σ input_rows = pages routed,
    Σ eligible_rows = pages the pipeline admits (eligible_pages), both
    observed on the one pass; a rerun over a complete manifest recomputes
    and commits nothing."""
    from glre_spark.pipeline import eligible_pages

    base = str(tmp_path / "funnel")
    pages = pages_df(spark, N_DOCS, partitions=4)
    n_pages, n_eligible = pages.count(), eligible_pages(pages).count()
    assert n_eligible < n_pages  # the generator emits non-en pages

    run_with_checkpoints(spark, pages, base, n_groups=GROUPS)
    m = read_manifest(spark, base).filter("status='done'").collect()
    assert len(m) == GROUPS
    assert sum(r.input_rows for r in m) == n_pages
    assert sum(r.eligible_rows for r in m) == n_eligible

    assert pending_groups(spark, base, GROUPS) == []
    run_with_checkpoints(spark, pages, base, n_groups=GROUPS)  # resume
    assert read_manifest(spark, base).count() == GROUPS


def test_all_filtered_input_still_observed(spark, tmp_path):
    """Pages that all fail the admission filter at RUN time (not a
    plan-time empty relation) reach the url exchange as zero rows; the
    per-group observation below that exchange must still be delivered,
    so every group commits its routed pages with 0 admitted."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "all_de")
    pages = pages_df(spark, 12, partitions=4).withColumn("lang", F.lit("de"))
    run_with_checkpoints(spark, pages, base, n_groups=2)
    m = read_manifest(spark, base).filter("status='done'").collect()
    assert len(m) == 2
    assert sum(r.input_rows for r in m) == 12
    assert all(r.eligible_rows == 0 and r.triples == 0 for r in m)


def test_torn_staging_dirs_healed_on_resume(spark, tmp_path):
    """A crash mid-write can leave committer staging dirs (_temporary /
    .spark-staging-*) under triples/ and _manifest/. Readers already
    ignore them, but they are leaked disk that accumulates across
    crash/resume cycles — run_with_checkpoints must sweep them at its
    single-writer startup moment and still produce the exact result
    (VERDICT r5 next-round #7)."""
    import os

    base = str(tmp_path / "ckpt")
    pages = pages_df(spark, 20, partitions=2)

    # first (crashed) attempt commits one group then dies
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoints(spark, pages, base, n_groups=2, fail_after=1)

    # simulate the torn committer state the crash could have left
    torn = [
        os.path.join(base, "triples", "_temporary", "0"),
        os.path.join(base, "triples", ".spark-staging-deadbeef"),
        os.path.join(base, "_manifest", "_temporary"),
    ]
    for d in torn:
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "junk"), "w") as f:
            f.write("orphan")

    run_with_checkpoints(spark, pages, base, n_groups=2)  # resume

    for d in torn:
        assert not os.path.exists(d), f"torn staging dir survived: {d}"
    straight = str(tmp_path / "straight")
    run_with_checkpoints(spark, pages, straight, n_groups=2)
    got = {tuple(r) for r in read_triples(spark, base).collect()}
    want = {tuple(r) for r in read_triples(spark, straight).collect()}
    assert got == want and len(got) > 0


def test_pass_reads_nothing_under_triples(spark, tmp_path, monkeypatch):
    """Per-group triple counts are observed on the write itself: a crash
    pass and its resume read the manifest but never the triples they
    just wrote."""
    import os

    from pyspark.sql import DataFrameReader

    read_paths = []
    real_parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        read_paths.extend(paths)
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    base = str(tmp_path / "noreadback")
    pages = pages_df(spark, 20, partitions=2)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoints(spark, pages, base, n_groups=2, fail_after=1)
    run_with_checkpoints(spark, pages, base, n_groups=2)  # resume

    triples_dir = os.path.join(base, "triples")
    assert read_paths, "the manifest read should go through the recorder"
    assert not [p for p in read_paths if str(p).startswith(triples_dir)]


def test_manifest_triples_match_disk_per_group(spark, tmp_path):
    """After a crash and a resume, each group's manifest ``triples`` is
    that group's deduped row count on disk, and 0 for a group whose
    pages are all filtered out (no partition dir is written for it).
    Every page also appears under a second url, so the same triple is
    predicted by several tasks of one group: a count taken on the
    inference stage's per-task output would exceed the rows written."""
    import os

    from pyspark.sql import functions as F

    from glre_spark.pipeline import url_bucket

    base = str(tmp_path / "per_group")
    empty_group = GROUPS - 1
    group = F.pmod(url_bucket(), F.lit(GROUPS))
    pages = pages_df(spark, N_DOCS, partitions=4)
    pages = pages.unionByName(pages.withColumn("url", F.concat("url", F.lit("?mirror"))))
    pages = pages.withColumn(
        "lang", F.when(group == empty_group, F.lit("de")).otherwise(F.col("lang"))
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoints(spark, pages, base, n_groups=GROUPS, fail_after=1)
    run_with_checkpoints(spark, pages, base, n_groups=GROUPS)  # resume

    on_disk = {
        r.bucket_group: r["count"]
        for r in spark.read.parquet(os.path.join(base, "triples"))
        .groupBy("bucket_group").count().collect()
    }
    manifest = {
        r.bucket_group: r.triples
        for r in read_manifest(spark, base).filter("status='done'").collect()
    }
    assert not os.path.exists(os.path.join(base, "triples", f"bucket_group={empty_group}"))
    assert manifest[empty_group] == 0 and empty_group not in on_disk
    assert manifest == {g: on_disk.get(g, 0) for g in range(GROUPS)}
    assert all(on_disk.get(g, 0) > 0 for g in range(GROUPS) if g != empty_group)
