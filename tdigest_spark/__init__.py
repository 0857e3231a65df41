"""tdigest_spark — a from-scratch PySpark-native approximate-aggregation
library with the query surface of tvondra/tdigest (plus HLL, count-min,
KLL and Bloom companion sketches), built on the DataFrame API and
Arrow-vectorized pandas UDFs.

Architecture (SURVEY.md §7): a pure-NumPy kernel per sketch under
``tdigest_spark.kernel``; one shared two-phase mergeable-aggregate
pipeline (Arrow-batch partials — pyarrow split reader or ``mapInArrow``
— shuffled as tiny binaries into a repartition-by-key merge+finalize)
under ``tdigest_spark.spark``; training-data-pipeline operators (dedup,
similarity, text analysis, multimodal plumbing) as sibling modules.

The package namespace is LAZY (PEP 562): executor-side task closures
import ``tdigest_spark.kernel.*`` / ``tdigest_spark.spark.arrow_agg``
through this package, and an eager init would drag pandas plus every
aggregate module into each fresh Python worker (a one-time import cost
per worker — per-task latency on a cold pool, startup cost on a
1000-executor cluster).  Attributes resolve to the same objects as before.

Inside a Spark Python worker (``pyspark.worker`` already loaded) the
import also installs ``_worker``'s zipimport hook, which removes a fixed
per-TASK cost: pyspark's ``importlib.invalidate_caches()`` at each task
start otherwise re-parses ~26.7k zip directory entries (pyspark.zip,
the Spark jar, py4j), 0.2-0.4 s per task on a 4-vCPU box.  The driver and
Spark-free imports keep the stdlib ``zipimport`` and never import pyspark.
On a ``get_spark`` session the workers come from ``_daemon``, which
imports numpy, pyarrow, pandas and the engine modules, installs the hook
itself (this ``__init__`` runs there before ``pyspark.worker``) and
GC-freezes them before forking, so no task pays those imports and
pyspark's post-task ``gc.collect()`` skips them.
"""

from __future__ import annotations

import sys as _sys

if "pyspark.worker" in _sys.modules:
    from tdigest_spark import _worker

    _worker.install()

_EXPORTS = {
    "Bloom": "tdigest_spark.kernel.bloom",
    "CountMin": "tdigest_spark.kernel.countmin",
    "HLL": "tdigest_spark.kernel.hll",
    "KLL": "tdigest_spark.kernel.kll",
    "TDigest": "tdigest_spark.kernel.tdigest",
    "bloom_filter": "tdigest_spark.spark.sketches",
    "bloom_might_contain": "tdigest_spark.spark.sketches",
    "countmin_estimate": "tdigest_spark.spark.sketches",
    "countmin_sketch": "tdigest_spark.spark.sketches",
    "hll_cardinality": "tdigest_spark.spark.sketches",
    "hll_count_distinct": "tdigest_spark.spark.sketches",
    "hll_sketch": "tdigest_spark.spark.sketches",
    "hll_union_agg": "tdigest_spark.spark.sketches",
    "kll_quantile": "tdigest_spark.spark.sketches",
    "kll_rank": "tdigest_spark.spark.sketches",
    "kll_sketch": "tdigest_spark.spark.sketches",
    "reservoir_sample_hashes": "tdigest_spark.spark.topk_agg",
    "topk": "tdigest_spark.spark.topk_agg",
    "topk_sketch": "tdigest_spark.spark.topk_agg",
    "tdigest": "tdigest_spark.spark.tdigest_agg",
    "tdigest_avg": "tdigest_spark.spark.tdigest_agg",
    "tdigest_avg_digests": "tdigest_spark.spark.tdigest_agg",
    "tdigest_count_agg": "tdigest_spark.spark.tdigest_agg",
    "tdigest_percentile": "tdigest_spark.spark.tdigest_agg",
    "tdigest_percentile_digests": "tdigest_spark.spark.tdigest_agg",
    "tdigest_percentile_of": "tdigest_spark.spark.tdigest_agg",
    "tdigest_percentile_of_digests": "tdigest_spark.spark.tdigest_agg",
    "tdigest_rollup": "tdigest_spark.spark.tdigest_agg",
    "tdigest_sum": "tdigest_spark.spark.tdigest_agg",
    "tdigest_sum_digests": "tdigest_spark.spark.tdigest_agg",
    "tdigest_union_agg": "tdigest_spark.spark.tdigest_agg",
}

__version__ = "0.1.0"


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module 'tdigest_spark' has no attribute {name!r}")
    import importlib

    value = getattr(importlib.import_module(mod), name)
    globals()[name] = value  # cache: next access skips __getattr__
    return value


def __dir__():
    return sorted({*globals(), *_EXPORTS})
