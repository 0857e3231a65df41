"""Fixed per-job and per-task costs of Python stages (the dispatch floor).

After ``warm_workers`` it prints one JSON object with:

- ``workers``: for each warm Python worker, in both worker pools (``rdd``:
  Python RDD tasks; ``sql``: ``mapInArrow``/pandas-UDF tasks), the number
  of ``zipimporter`` entries in ``sys.path_importer_cache`` and the
  in-task time of one ``importlib.invalidate_caches()`` call.  pyspark
  makes that call at every task start, so its time is a per-task floor
  (the ``tdigest_spark`` zipimport hook makes it a few stats).
- best-of-5 wall times of empty jobs: a JVM-only job, Python RDD jobs of
  1-64 tasks, ``mapInArrow`` noop writes, and shuffle chains with AQE on
  and off.

Run: ``SPARK_GRAFT_CPUS=4 python scripts/prof_floor.py 2>/dev/null``.
"""
from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def t(fn, reps=5):
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 4)


def invalidate_probe():
    """(pid, zipimporters on the path cache, one invalidate_caches() in s)."""
    import importlib
    import zipimport

    zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    return os.getpid(), zips, time.perf_counter() - t0


def per_worker(rows):
    by_pid = defaultdict(list)
    for pid, zips, dt in rows:
        by_pid[pid].append((zips, dt))
    return {
        str(pid): {"zipimporters": max(z for z, _ in v),
                   "invalidate_ms": round(1e3 * sorted(d for _, d in v)[len(v) // 2], 2)}
        for pid, v in sorted(by_pid.items())
    }


def main():
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType, StructField, LongType

    from tdigest_spark.spark.session import get_spark, warm_workers

    spark = get_spark("prof-floor", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark)
    sc = spark.sparkContext

    n = sc.defaultParallelism * 4

    def probe_batches(batches):
        for _ in batches:
            pass
        pid, zips, dt = invalidate_probe()
        yield pa.RecordBatch.from_pydict({"pid": [pid], "zips": [zips], "dt": [dt]})

    rdd_rows = sc.parallelize(range(n), n).map(lambda _: invalidate_probe()).collect()
    sql_rows = spark.range(0, n, 1, n).mapInArrow(
        probe_batches, "pid long, zips long, dt double").collect()
    out = {"workers": {"rdd": per_worker(rdd_rows),
                       "sql": per_worker([tuple(r) for r in sql_rows])}}

    def jvm_job():
        spark.range(0, CPUS, 1, CPUS).selectExpr("sum(id)").collect()

    jvm_job()
    out["jvm_32task_job"] = t(jvm_job)

    for n in (1, 4, 32, 64):
        def rdd_job(n=n):
            sc.parallelize(range(n), n).map(lambda x: x).collect()
        rdd_job()
        out[f"pyrdd_{n}task_job"] = t(rdd_job)

    # mapInArrow DataFrame job with n partitions
    schema = StructType([StructField("x", LongType(), True)])

    def mia(it):
        for b in it:
            yield b

    for n in (1, 32):
        df = spark.range(0, n, 1, n).select(F.col("id").alias("x"))
        dfm = df.mapInArrow(mia, schema)

        def mia_job(dfm=dfm):
            dfm.write.format("noop").mode("overwrite").save()
        mia_job()
        out[f"mapinarrow_{n}task_noop"] = t(mia_job)

    # shuffle round trip: range -> repartition(key) -> mapInArrow
    df = spark.range(0, 32, 1, 32).select(F.col("id").alias("x"))
    dfr = df.repartition("x").mapInArrow(mia, schema)

    def shuffle_job():
        dfr.write.format("noop").mode("overwrite").save()
    shuffle_job()
    out["shuffle_mapinarrow_noop"] = t(shuffle_job)

    # createDataFrame from python-RDD (the partial-phase shape), + shuffle
    rdd = sc.parallelize([(i,) for i in range(32)], 32)
    dfp = spark.createDataFrame(rdd, schema, verifySchema=False)
    chain = dfp.repartition("x").mapInArrow(mia, schema)

    def rdd_df_chain():
        chain.write.format("noop").mode("overwrite").save()
    rdd_df_chain()
    out["pyrdd_to_df_shuffle_mapinarrow"] = t(rdd_df_chain)

    # AQE off comparison for the same chain
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rdd_df_chain()
    out["pyrdd_to_df_shuffle_mapinarrow_noAQE"] = t(rdd_df_chain)
    out["shuffle_mapinarrow_noop_noAQE"] = t(shuffle_job)
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
