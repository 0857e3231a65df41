"""A/B: keyed windowed HLL single-stage vs the two-stage JVM
micro-batch pre-reduction (prereduce_windowed_hashes -> packed fold) on
ONE corpus at ONE parallelism level — the reproducer for BENCH.md's
duplication-axis numbers (the per-level sweep lives in
bench_stream_scale.py, which runs the same pair inside its 8/32-core
workers).

Corpus ``zipf`` draws uid log-uniform over [1, 1M] (Zipf-1 web repeat
traffic, dup factor ~1.75 at 32M events); ``uniform`` is the
bench_stream_scale time-ordered corpus (uid cycling, within-cell dup ~2
at 128M).  Both are closed-form functions of the row id (no RNG) and
cached under /tmp/tdigest_stream — delete that dir before recording
bench.py numbers (CLAUDE.md).

Exactness is asserted, not sampled: the two pipelines' per-(key,
window) finals must be IDENTICAL (HLL register updates are
duplication/order insensitive).

Usage: python scripts/bench_prereduce_ab.py [n_events] [cores] [trials] [zipf|uniform]
Prints one JSON line: keyed_sec, pre_total_sec (+ stage splits),
speedup, dup_factor, per-trial times.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_stream_scale as B  # noqa: E402  (corpus + session helpers)


def _read_steal():
    f = open("/proc/stat").readline().split()
    vals = list(map(int, f[1:]))
    return vals[7], sum(vals)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 32_000_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    corpus = sys.argv[4] if len(sys.argv) > 4 else "zipf"
    if corpus == "zipf":
        path = B.EVENTS_ZIPF
        B.ensure_events_sorted(n, path, zipf=True)
    else:
        path = B.EVENTS_SORTED
        B.ensure_events_sorted(n, path)

    from pyspark.sql import SparkSession, functions as F

    from tdigest_spark.spark.session import python_worker_confs

    spark = (
        SparkSession.builder.appName(f"prereduce-ab-{cores}")
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config(map=python_worker_confs())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from tdigest_spark.spark.session import warm_workers
    from tdigest_spark.streaming.digest_stream import (
        prereduce_windowed_hashes,
        read_packed_stream,
        streaming_windowed_hll,
    )

    warm_workers(spark)
    schema = spark.read.parquet(path).schema
    n_total = spark.read.parquet(path).count()
    dd = (
        spark.read.parquet(path)
        .select(
            "key",
            F.window("ts", "6 hours")["start"].alias("w"),
            F.xxhash64("uid").alias("h"),
        )
        .distinct()
        .count()
    )
    out = {
        "events": n_total,
        "cores": cores,
        "corpus": corpus,
        "dup_factor": round(n_total / dd, 2),
    }

    def replay():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(path)
        )

    def hashed():
        return replay().select("ts", "key", F.xxhash64("uid").alias("h"))

    def drain(q, name):
        assert q.awaitTermination(3600), name

    keyed_fin: dict = {}
    kt, ks = [], []
    for t in range(trials):
        ck = tempfile.mkdtemp(prefix="pab_ck_")
        s0, tot0 = _read_steal()
        t0 = time.time()
        q = (
            streaming_windowed_hll(
                hashed(), "ts", "h", "6 hours", keys=["key"],
                watermark_delay="1 hour",
            )
            .writeStream.format("memory").queryName(f"pab_keyed_{t}")
            .outputMode("update").option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        drain(q, "keyed")
        kt.append(round(time.time() - t0, 2))
        s1, tot1 = _read_steal()
        ks.append(round(100.0 * (s1 - s0) / max(1, tot1 - tot0), 2))
        shutil.rmtree(ck, ignore_errors=True)
        for r in spark.sql(f"SELECT * FROM pab_keyed_{t}").collect():
            k = (r["key"], r["window_start"])
            keyed_fin[k] = max(keyed_fin.get(k, 0), r["estimate"])
    out["keyed_sec"] = min(kt)
    out["keyed_times"] = kt
    out["keyed_steal_pct"] = ks

    pre_fin: dict = {}
    pt, p1, p2, ps = [], [], [], []
    for t in range(trials):
        stg = tempfile.mkdtemp(prefix="pab_stg_") + "/s"
        s0, tot0 = _read_steal()
        t0 = time.time()
        q1 = prereduce_windowed_hashes(
            hashed(), "ts", "h", "6 hours", stg,
            tempfile.mkdtemp(prefix="pab_ck1_"), keys=["key"],
            availableNow=True,
        )
        drain(q1, "stage1")
        t1 = time.time()
        # stage 2: all staged batches in ONE availableNow trigger at
        # few state partitions — per-state-partition-per-batch overhead
        # dominates once rows are O(groups) (BENCH.md cost model)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        q2 = (
            streaming_windowed_hll(
                read_packed_stream(spark, stg), "window_start", "h",
                "6 hours", keys=["key"], watermark_delay="1 hour",
                packed=True,
            )
            .writeStream.format("memory").queryName(f"pab_pre_{t}")
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="pab_ck2_"))
            .trigger(availableNow=True).start()
        )
        drain(q2, "stage2")
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        t2 = time.time()
        s1, tot1 = _read_steal()
        pt.append(round(t2 - t0, 2))
        p1.append(round(t1 - t0, 2))
        p2.append(round(t2 - t1, 2))
        ps.append(round(100.0 * (s1 - s0) / max(1, tot1 - tot0), 2))
        out["staged_rows"] = spark.read.parquet(stg + "/batch=*").count()
        for r in spark.sql(f"SELECT * FROM pab_pre_{t}").collect():
            k = (r["key"], r["window_start"])
            pre_fin[k] = max(pre_fin.get(k, 0), r["estimate"])
        shutil.rmtree(stg, ignore_errors=True)
    out["pre_total_sec"] = min(pt)
    out["pre_times"] = pt
    out["pre_stage1_times"] = p1
    out["pre_stage2_times"] = p2
    out["pre_steal_pct"] = ps
    out["speedup"] = round(out["keyed_sec"] / out["pre_total_sec"], 2)
    assert pre_fin == keyed_fin, (
        "finals diverge", len(pre_fin), len(keyed_fin),
    )
    out["finals_match"] = True
    print(json.dumps(out))


if __name__ == "__main__":
    main()
