"""SparkSession factory.

One place for every config knob so tests, bench.py, the driver's
``__spark_entry__`` hooks, and ``spark-submit --py-files`` runs all get the
same Arrow/AQE/shuffle settings (SURVEY.md §4.2-4.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Docs are fat rows (html binary + full text): keep Arrow batches small so
# the mapInPandas inference stage's page and prediction frames stay small
# (SURVEY.md §4.3); the stage holds one batch at a time.
# The model's pair tail is bounded separately, by gated pairs
# (model.net.TAIL_PAIRS), not by this batch size.
ARROW_MAX_RECORDS_PER_BATCH = 256


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a narrow input to one task per core before a CPU-bound
    per-row stage (page synthesis, extraction, signatures, media decode).

    A parquet file splits only at row-group granularity, and the driver
    testdata ships one row group per table, so a scan arrives as 1-2
    partitions and its per-row work would run on 1-2 cores. An input
    narrower than ``defaultParallelism`` is round-robined to exactly that
    width: one wave, every core busy. A wider input (any real-scale scan)
    is returned unchanged, with no exchange added.

    One wave, not two: each Python task pays a fixed dispatch cost, and
    more tasks than cores only add it. Measured on local[32] at sf1.0,
    1x cluster width beat 2x for page gen (0.67 vs 1.08 s), media decode
    (1.18 vs 1.83 s) and SimHash (0.84 vs 1.23 s); the inference stage
    over 400 pages on local[4] ran 1.62 / 0.94 / 1.15 s at width 1 / 4 / 8.

    The width check reads the planned partition count, which starts no
    Spark job."""
    width = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= width:
        return df
    return df.repartition(width)


def get_spark(
    app_name: str = "glre_spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``cores=None`` → honor a spark-submit-provided ``--master`` if one
    exists (builder.master would silently OVERRIDE it — measured: two
    spark-submit runs at local[4] and local[16] both actually ran
    local[32] before this guard), else ``local[$SPARK_GRAFT_CPUS or
    nproc]``. An explicit ``cores=`` always wins (perfbench pins its
    own level).

    One shuffle-width rule for every master: ``max(defaultParallelism,
    8)``, read from the live context once it exists.
    """
    # Under spark-submit the driver JVM (PythonRunner) already holds the
    # --master conf and exposes its gateway via PYSPARK_GATEWAY_PORT; a
    # fresh SparkConf() here CANNOT see it (it lives in the launcher's
    # SparkConf, not in system properties), so the only correct move is
    # to not call .master() at all.
    submitted = cores is None and bool(os.environ.get("PYSPARK_GATEWAY_PORT"))
    # One BLAS thread per Python worker: N workers × multi-threaded
    # OpenBLAS/MKL oversubscribes the box quadratically and *anti*-scales
    # (measured 2.3× slower at local[32] than local[8] before this).
    # Python workers inherit the env the JVM was launched with → set both.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Shuffle spill dir on tmpfs: local-mode shuffles write
        # tasks×partitions small files; on this VM's slow disk that
        # serializes high-parallelism runs (measured 32-core slower than
        # 8-core before this). Harmless on a real cluster (override via
        # SPARK_GRAFT_LOCAL_DIR or spark-submit conf).
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
    )
    if not submitted:
        cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(spark.sparkContext.defaultParallelism, 8)),
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
