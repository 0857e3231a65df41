"""Spark Python worker daemon: fork workers with the engine pre-imported.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so Spark
starts ``python -m tdigest_spark._daemon`` in place of ``pyspark.daemon``.
Before handing off to pyspark's own ``manager()`` loop it imports the
modules every engine task needs, installs the zipimport hook (the package
``__init__`` runs before ``pyspark.worker`` is loaded here, so its
conditional install does not fire) and moves every import-time object to
the permanent GC generation.  Each forked worker then starts warm, and
the full ``gc.collect()`` pyspark runs after each task on a reused worker
scans only what that task allocated.  Nothing here runs Arrow compute,
starts a thread or opens a file before the fork; the only extra threads
are numpy's BLAS pool, which pyspark's own daemon already holds (it
imports numpy too).
"""

import gc

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.compute  # noqa: F401
import pyarrow.parquet  # noqa: F401
from pyspark import daemon

from tdigest_spark import _worker
from tdigest_spark.kernel import tdigest  # noqa: F401
from tdigest_spark.spark import arrow_agg, tdigest_agg  # noqa: F401

if __name__ == "__main__":
    _worker.install()
    gc.freeze()
    daemon.manager()
