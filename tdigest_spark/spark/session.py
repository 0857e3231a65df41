"""SparkSession helper with scale-appropriate defaults.

Tests and bench run on ``local[$SPARK_GRAFT_CPUS]`` (default 32); on a
real cluster the same settings apply per-executor.  AQE stays on so
skewed merge shuffles re-plan at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tdigest_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        # local tiers scan ~10-100 MB parquet: the 128 MB default packs
        # a whole table into 1-2 input splits and serializes the partial
        # phase.  16 MB keeps every core busy locally; on a real cluster
        # (100 TB, plentiful splits) override via env to 128 MB.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # bucketed tables here are always deliberate layout choices
        # (digest stores, IVF indexes): keep their scans bucketed so
        # bucket pruning (SelectedBucketsCount) applies even when no
        # downstream operator needs the clustering — the auto planner
        # would otherwise drop pruning for e.g. probed ANN scans
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()


def warm_workers(spark: SparkSession, rounds: int = 4) -> int:
    """Pre-import the engine's worker-side modules across the Python
    worker pools: per pool, one job of rounds×parallelism short sleeping
    tasks, so the scheduler spreads them over distinct workers.

    Spark keeps one worker pool per worker environment, and SQL Python
    tasks (``mapInArrow``, pandas UDFs — every engine stage) carry
    ``SPARK_SIMPLIFIED_TRACEBACK`` that Python RDD tasks do not, so the
    two never share a worker: both pools are warmed.

    A fresh pyspark worker pays a one-time import cost on its first
    engine task (pyarrow, plus pandas, which pa.array/pa.scalar pull
    lazily even on pandas-free code paths).  Importing ``tdigest_spark``
    also installs the package's zipimport hook (``tdigest_spark._worker``),
    which removes a per-TASK cost: without it every task start re-parses
    ~26.7k zip directory entries (0.2-0.4 s of CPU on a 4-vCPU box).  On
    a real cluster the imports are per-executor startup cost amortized
    over millions of tasks; in sub-second local benchmarks the pool
    rotates cold workers through single-task jobs, so benches call this
    once up front.  Returns the number of distinct workers warmed in
    the SQL pool, the one engine stages run on."""

    def _warm(_):
        import os
        import time as _t

        import pyarrow  # noqa: F401
        import pyarrow.compute  # noqa: F401
        import pyarrow.parquet  # noqa: F401
        import pandas  # noqa: F401

        from tdigest_spark.kernel import tdigest  # noqa: F401
        from tdigest_spark.spark import arrow_agg  # noqa: F401

        _t.sleep(0.05)
        return os.getpid()

    def _warm_batches(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [_warm(None)]})

    n = spark.sparkContext.defaultParallelism * rounds
    spark.sparkContext.parallelize(range(n), n).map(_warm).collect()
    sql = spark.range(0, n, 1, n).mapInArrow(_warm_batches, "pid long").collect()
    return len({r.pid for r in sql})
