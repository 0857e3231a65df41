"""SparkSession helper with scale-appropriate defaults.

Tests and bench run on ``local[$SPARK_GRAFT_CPUS]`` (default 32); on a
real cluster the same settings apply per-executor.  AQE stays on so
skewed merge shuffles re-plan at runtime.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession

# Spark names each worker socket ``<dir>/.<uuid4>.sock``; Linux caps
# ``sun_path`` at 107 bytes plus the NUL
_SOCK_NAME_LEN = len(f"/.{uuid.uuid4()}.sock")
_SUN_PATH_MAX = 107


def _socket_dir() -> str:
    """A fresh private (0700) directory for Spark's Unix domain sockets,
    removed at exit.  Over a Unix socket pyspark skips its auth secret,
    so the directory's permissions are the only guard.  It goes in
    Python's tempdir when the longest socket path fits ``sun_path``,
    else under ``/tmp``."""
    d = tempfile.mkdtemp(prefix="tds-")
    if len(os.fsencode(d)) + _SOCK_NAME_LEN > _SUN_PATH_MAX:
        os.rmdir(d)
        d = tempfile.mkdtemp(prefix="tds-", dir="/tmp")
    atexit.register(shutil.rmtree, d, True)
    return d


@functools.cache
def python_worker_confs() -> dict[str, str]:
    """Spark confs that run Python workers over Unix domain sockets and
    fork them from ``tdigest_spark._daemon`` (engine pre-imported, zip
    hook installed, import-time objects GC-frozen).  On loopback TCP
    neither pyspark nor Spark sets ``TCP_NODELAY``, so a task's small
    messages can wait on delayed ACKs.  The package's parent directory goes on the workers' ``PYTHONPATH`` so
    the daemon module resolves from any working directory.  One socket
    directory per process."""
    pkg_parent = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": _socket_dir(),
        "spark.python.daemon.module": "tdigest_spark._daemon",
        "spark.executorEnv.PYTHONPATH": pkg_parent,
    }


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
        .config(map=python_worker_confs())
    )
    return builder.getOrCreate()


def warm_workers(spark: SparkSession, rounds: int = 4) -> int:
    """Touch every Python worker the engine's stages will use, in both
    worker pools: per pool, one job of rounds×parallelism short sleeping
    tasks, so the scheduler spreads them over distinct workers.

    Spark keeps one worker pool per worker environment, and SQL Python
    tasks (``mapInArrow``, pandas UDFs — every engine stage) carry
    ``SPARK_SIMPLIFIED_TRACEBACK`` that Python RDD tasks do not, so the
    two never share a worker: both pools are warmed.

    On a ``get_spark`` session each pool's workers are forked from
    ``tdigest_spark._daemon``, which has already imported numpy, pyarrow,
    pandas and the engine modules, installed the package's zipimport hook
    and GC-frozen the import-time objects; what is left of a worker's
    first-task cost is the fork and its first connection.  The per-TASK
    costs those steps remove: pyspark's ``importlib.invalidate_caches()``
    re-parsing ~26.7k zip directory entries (0.2-0.4 s of CPU on a
    4-vCPU box), delayed-ACK waits on loopback TCP (the session's
    workers use Unix domain sockets) and a 40-70 ms full
    ``gc.collect()`` after each task (0.03-0.3 ms over the frozen heap).
    On a session built elsewhere the first engine task still imports the
    modules and installs the hook.  In sub-second local benchmarks the
    pool rotates fresh workers through single-task jobs, so benches call
    this once up front.  Returns the number of distinct workers warmed
    in the SQL pool, the one engine stages run on."""

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
