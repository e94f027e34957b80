"""Checkpointed lineage / metrics / exact resume (SURVEY.md §2.9, §4.3).

The north rule requires: per-partition lineage + metrics tables enabling
exact resume. Mechanism (works on plain parquet; Iceberg-ready layout):

- work is keyed by deterministic url-hash *buckets* (pipeline.url_bucket),
  decoupled from task parallelism — bucket ids are stable across cluster
  sizes, so a run at N executors can be resumed at 4N;
- ONE pass over the pages source per (re)start processes every pending
  bucket-group (about 8 Spark jobs: the manifest read, the shuffle
  stages AQE runs one by one, the write and the manifest append).
  Triples are written with dynamic partition overwrite on
  ``bucket_group=`` (idempotent per group). Per-group page counts
  (routed, and admitted by the pipeline's eligibility rule) and
  per-group triple counts come from ``df.observe()`` on that write — no
  per-group re-scans, no read-back;
- the manifest is appended AFTER the data lands — manifest-last commit
  order means a crash can only lose uncommitted work (whose partitions the
  resume overwrites idempotently), never record phantom work;
- on restart, ``pending_groups`` collects the manifest's done groups and
  only the missing ones are recomputed (the resume_filter op is the
  relational form).

Dedup scope: triples are exact-deduped WITHIN a bucket group (the unit of
idempotent commit); the same (subj, pred, obj) observed in two groups is
two rows on disk. ``read_triples`` re-aggregates across groups by default
so consumers see the globally-deduped invariant.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# input_rows counts every page routed to the group, eligible_rows the
# ones the pipeline admits (pipeline.is_eligible). batch_wall_ms is the
# wall clock of the WHOLE (re)start batch that committed the row (all
# groups share one pass), not a per-group time.
_ROW_SCHEMA = (
    "run_id string, bucket_group int, status string, input_rows long, "
    "eligible_rows long, triples long, batch_wall_ms long"
)
MANIFEST_SCHEMA = f"{_ROW_SCHEMA}, committed_at timestamp"


def manifest_path(base: str) -> str:
    return os.path.join(base, "_manifest")


def read_manifest(spark: SparkSession, base: str) -> DataFrame:
    """Empty manifest ONLY for a missing path (first run). Any other read
    error (corrupt files, permissions) re-raises: silently reporting zero
    completed groups would trigger a full-corpus recompute at scale and
    mask manifest corruption."""
    from pyspark.errors import AnalysisException

    path = manifest_path(base)
    try:
        return spark.read.schema(MANIFEST_SCHEMA).parquet(path)
    except AnalysisException as e:
        # match the error condition (stable across message rewording);
        # the 3.x/4.x message tokens cover errors raised without one
        err_class = e.getCondition() or ""
        if "PATH_NOT_FOUND" in err_class or "PATH_NOT_FOUND" in str(e) or (
            "Path does not exist" in str(e)
        ):
            return spark.createDataFrame([], MANIFEST_SCHEMA)
        raise


def append_manifest_rows(
    spark: SparkSession,
    base: str,
    rows: list[tuple[str, int, str, int, int, int, int]],
) -> None:
    # From pandas, the rows cross as one Arrow batch; a list of tuples
    # would become a pickled RDD whose partitions coalesce(1) drains
    # through Python workers one after another.
    import pandas as pd

    cols = [f.split()[0] for f in _ROW_SCHEMA.split(", ")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=cols), _ROW_SCHEMA).withColumn(
        "committed_at", F.current_timestamp()
    )
    df.coalesce(1).write.mode("append").parquet(manifest_path(base))


def pending_groups(spark: SparkSession, base: str, n_groups: int) -> list[int]:
    """Groups 0..n_groups-1 without a 'done' manifest row, ascending."""
    done = {
        r.bucket_group
        for r in read_manifest(spark, base).filter("status = 'done'")
        .select("bucket_group").collect()
    }
    return [g for g in range(n_groups) if g not in done]


def _process_groups(
    spark: SparkSession,
    pages_g: DataFrame,
    base: str,
    run_id: str,
    groups: list[int],
) -> None:
    """One pass over the pages source for all ``groups``: filter →
    build_triples (group-scoped dedup, bucket_group carried through the
    Arrow stage) → dynamic-partition-overwrite write → manifest append.
    Two Observations ride that write: per-group routed and admitted page
    counts on its input, per-group triple counts on the deduped triples
    it writes. Nothing is re-read."""
    from glre_spark.pipeline import build_triples, is_eligible

    if not groups:
        return
    t0 = time.time()
    part = pages_g.filter(F.col("bucket_group").isin([int(g) for g in groups]))
    in_group = {g: F.col("bucket_group") == g for g in groups}
    obs_in = Observation(f"lineage_in_{run_id}")
    part = part.observe(
        obs_in,
        *[F.count(F.when(c, True)).alias(f"g{g}") for g, c in in_group.items()],
        *[
            F.count(F.when(c & is_eligible(), True)).alias(f"e{g}")
            for g, c in in_group.items()
        ],
    )
    obs_out = Observation(f"lineage_out_{run_id}")
    triples = build_triples(spark, part, group_col="bucket_group").observe(
        obs_out, *[F.count(F.when(c, True)).alias(f"t{g}") for g, c in in_group.items()]
    )
    # A writer option outranks the session conf: the overwrite mode is
    # scoped to this write, never changed on the shared session.
    (
        triples.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket_group")
        .parquet(os.path.join(base, "triples"))
    )
    # No try/except around either obs.get: both are delivered even when no
    # page reaches the url exchange (pipeline.latest_per_url keeps that
    # stage in the final plan; tests/test_resume.py covers the empty and
    # the all-filtered input). Swallowing errors would silently commit
    # zero counts to the manifest on a genuine Py4J/runtime failure — the
    # same silent-miscount shape read_manifest guards against.
    in_rows, out_rows = obs_in.get, obs_out.get  # populated by the write
    batch_wall_ms = int((time.time() - t0) * 1000)
    append_manifest_rows(
        spark,
        base,
        [
            (
                run_id,
                int(g),
                "done",
                int(in_rows.get(f"g{g}", 0)),
                int(in_rows.get(f"e{g}", 0)),
                int(out_rows.get(f"t{g}", 0)),
                batch_wall_ms,
            )
            for g in groups
        ],
    )


def _heal_torn_writes(base: str) -> list[str]:
    """Startup sweep for the crash window between the data write and the
    manifest append (manifest-last order): a job that died mid-write can
    leave committer staging dirs — ``_temporary`` inside the target, or
    ``.spark-staging-*`` siblings from dynamic partition overwrite —
    under ``triples``/``_manifest``. Readers already ignore
    underscore/dot-prefixed paths, so these are never a CORRECTNESS
    hazard (the uncommitted groups simply re-run); they are leaked disk
    that accumulates across crash/resume cycles and, at scale, slows
    file listing. Swept here because resume is the documented
    single-writer moment — nothing else may be appending. Returns the
    removed paths (logged by tests). Local-filesystem paths only; with a
    real Iceberg/Delta catalog the commit is transactional and orphan
    cleanup is the table service's job (VERDICT r5 next-round #7)."""
    import shutil

    removed: list[str] = []
    for target in (os.path.join(base, "triples"), manifest_path(base)):
        if not os.path.isdir(target):
            continue
        for name in os.listdir(target):
            if name == "_temporary" or name.startswith(".spark-staging"):
                full = os.path.join(target, name)
                try:
                    shutil.rmtree(full)
                except FileNotFoundError:
                    continue  # racing heal already removed it
                removed.append(full)
    return removed


def run_with_checkpoints(
    spark: SparkSession,
    pages: DataFrame,
    base: str,
    n_groups: int = 8,
    fail_after: int | None = None,
) -> str:
    """Process every pending bucket group in ONE pass over the pages source
    (manifest-last commit). ``fail_after`` commits only the first K pending
    groups, then raises (crash-injection for tests). Returns the run_id.
    Re-invoking with the same ``base`` resumes the missing groups."""
    from glre_spark.pipeline import url_bucket

    run_id = uuid.uuid4().hex[:12]
    _heal_torn_writes(base)
    pages_g = pages.withColumn(
        "bucket_group", F.pmod(url_bucket(), F.lit(n_groups)).cast("int")
    )
    todo = pending_groups(spark, base, n_groups)
    if fail_after is not None and fail_after < len(todo):
        _process_groups(spark, pages_g, base, run_id, todo[:fail_after])
        raise RuntimeError(f"injected failure before group {todo[fail_after]}")
    _process_groups(spark, pages_g, base, run_id, todo)
    return run_id


def read_triples(spark: SparkSession, base: str) -> DataFrame:
    """Read the combined triple table, re-applying the exact (subj, pred,
    obj) dedup across bucket groups — group-scoped commits mean a triple
    witnessed in two groups is stored twice; the re-aggregation (max
    score, min url, sum n_sources) restores the global invariant
    build_triples guarantees."""
    from glre_spark.linking import dedup_triples

    df = spark.read.parquet(os.path.join(base, "triples"))
    return dedup_triples(df.drop("bucket_group"))
