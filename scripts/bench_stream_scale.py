"""Streaming volume + scaling evidence: the applyInPandasWithState
paths (per-key t-digest state, windowed watermark-evicted HLL) driven
at millions of events through real micro-batches, at two parallelism
levels (fresh JVM per level via subprocess, same input — the
sandbox stand-in for N vs 4N executors per the north rule).

Events are generated PURE-Catalyst and deterministically (key/value/ts
are closed-form functions of the row id — no RNG, no partition-layout
dependence), written as 8 parquet files that replay as micro-batches
(maxFilesPerTrigger=2 -> 4 batches).

Correctness is asserted OUTSIDE the timed window: per-key streamed
digest counts must equal exact counts, the merged global digest median
must land the exact rank band, and the windowed HLL per-window
estimates must be within the p=14 band of exact distincts.

Usage:  python scripts/bench_stream_scale.py [n_events] [cores_hi] [trials]
        (default 32_000_000 events, levels = cores_hi/4 and cores_hi,
        3 trials per op per level — min time kept, per-trial steal%
        recorded; this box's co-tenant steal makes single runs lie)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
EVENTS = "/tmp/tdigest_stream/events"
EVENTS_SORTED = "/tmp/tdigest_stream/events_sorted"
EVENTS_ZIPF = "/tmp/tdigest_stream/events_zipf"
N_FILES = 8
N_KEYS = 256

WORKER = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, %(root)r)
from pyspark.sql import SparkSession, functions as F
from tdigest_spark.spark.session import python_worker_confs

cores = int(sys.argv[1])
spark = (SparkSession.builder.appName(f"stream-scale-{cores}")
    .master(f"local[{cores}]")
    .config("spark.sql.shuffle.partitions", "64")
    .config("spark.sql.adaptive.enabled", "true")
    # ~550MB files x 2 per micro-batch: the 128MB default split size
    # gives ~9 scan tasks, capping the map-side partial phase (Python
    # work in the SCAN stage) at 9-way parallelism no matter the cores
    .config("spark.sql.files.maxPartitionBytes", "16m")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.driver.memory", "8g")
    .config("spark.sql.session.timeZone", "UTC")
    .config(map=python_worker_confs())
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from tdigest_spark.kernel.tdigest import TDigest, merge_all
from tdigest_spark.spark.session import warm_workers
from tdigest_spark.streaming.digest_stream import (
    streaming_tdigest, streaming_windowed_hll,
)

warm_workers(spark)
src = %(events)r
src_sorted = %(events_sorted)r
schema = spark.read.parquet(src).schema
n_total = spark.read.parquet(src).count()  # also warms the page cache
spark.read.parquet(src_sorted).count()

def replay(path=None):
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 2).parquet(path or src))

trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
out = {"cores": cores, "events": n_total, "trials": trials}

def read_steal():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:11]]
    return vals[7], sum(vals)

def run_op(name, build_out):
    # Run one streaming op `trials` times (fresh checkpoint + sink per
    # trial, warm JVM/page cache), recording min time (the repo's
    # scaling_bench convention under co-tenant steal) + per-trial
    # steal%% + the last trial's micro-batch durationMs breakdown.
    times, steals = [], []
    for t in range(trials):
        ck = tempfile.mkdtemp(prefix=f"ssc_{name}_")
        qn = f"{name}_{t}"
        s0, tot0 = read_steal()
        t0 = time.time()
        q = (build_out().writeStream.format("memory").queryName(qn)
             .outputMode("update").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        assert q.awaitTermination(1800), name
        times.append(round(time.time() - t0, 2))
        s1, tot1 = read_steal()
        steals.append(round(100.0 * (s1 - s0) / max(1, tot1 - tot0), 2))
        shutil.rmtree(ck, ignore_errors=True)
    best = min(times)
    prog = [json.loads(p.json) for p in q.recentProgress]
    dm = [p.get("durationMs", {}) for p in prog
          if p.get("numInputRows", 0) > 0]
    out[f"{name}_sec"] = best
    out[f"{name}_events_per_sec"] = int(n_total / best)
    out[f"{name}_times"] = times
    out[f"{name}_steal_pct"] = steals
    out[f"{name}_batch_ms"] = {
        k: sum(d.get(k, 0) for d in dm)
        for k in ("triggerExecution", "addBatch", "getBatch", "walCommit",
                  "commitOffsets")
    }
    out[f"{name}_state_rows"] = [
        p["stateOperators"][0]["numRowsTotal"] for p in prog
        if p.get("stateOperators")
    ]
    return qn

def td_final(qn):
    final = {}
    for r in spark.sql(f"SELECT * FROM {qn}").collect():
        if r["key"] not in final or r["count"] > final[r["key"]]["count"]:
            final[r["key"]] = {"count": r["count"],
                               "digest": bytes(r["digest"])}
    return final

def td_verify(qn, label):
    final = td_final(qn)
    assert set(final) == set(exact) and all(
        final[k]["count"] == exact[k] for k in exact), f"{label} counts"
    merged = merge_all(
        [TDigest.from_bytes(v["digest"]) for v in final.values()])
    med = merged.quantile(0.5)
    rank = (spark.read.parquet(src).filter(F.col("value") <= med).count()
            / n_total)
    assert abs(rank - 0.5) < 0.01, (label, rank)
    return rank

exact = {r["key"]: r["n"] for r in
         spark.read.parquet(src).groupBy("key")
         .agg(F.count("*").alias("n")).collect()}

# --- per-key t-digest state: plain row shuffle vs map-side combine --
qn = run_op("tdigest", lambda: streaming_tdigest(
    replay(), keys=["key"], value_col="value", compression=100))
out["tdigest_median_rank"] = round(td_verify(qn, "row-fold"), 5)

qn = run_op("tdigest_combined", lambda: streaming_tdigest(
    replay(), keys=["key"], value_col="value", compression=100,
    combine_partials=True))
td_verify(qn, "combined")

# --- windowed HLL throughput (16 live windows) ----------------------
# NOTE: every replayed file spans the full 4-day range, so all 16
# windows stay open for the whole run and NO state is evicted here —
# evicting mid-run would also drop late rows and break the exactness
# checks below.  This measures the windowed operator's per-event cost;
# the eviction path itself is asserted separately
# (tests/test_streaming.py::test_streaming_windowed_hll_state_expires).
qn = run_op("whll", lambda: streaming_windowed_hll(
    replay().select("ts", F.xxhash64("uid").alias("h")),
    "ts", "h", window_duration="6 hours", watermark_delay="30 days"))

# verify (untimed): final per-window estimates within the p=14 band
fin = {}
for r in spark.sql(f"SELECT * FROM {qn}").collect():
    k = r["window_start"]
    fin[k] = max(fin.get(k, 0), r["estimate"])  # last update wins; max n
ex = {r["w"]: r["n"] for r in
      spark.read.parquet(src)
      .select(F.window("ts", "6 hours")["start"].alias("w"), "uid")
      .groupBy("w").agg(F.countDistinct("uid").alias("n")).collect()}
assert set(fin) == set(ex), (len(fin), len(ex))
for w, n in ex.items():
    assert abs(fin[w] - n) <= max(10, 0.05 * n), (w, fin[w], n)
out["whll_windows"] = len(ex)

# --- windowed HLL with eviction ACTIVE (time-ordered replay) --------
# The sorted corpus writes its 8 files in event-time order, so the
# watermark advances past closed windows while the stream runs: with
# a 1-hour delay on 6-hour windows, earlier windows are EVICTED while
# later batches process — throughput measured with the timeout path
# live (the unsorted replay above never evicts).  No late data exists
# (files are time-ordered), so the exactness checks still hold.
qn = run_op("whll_evict", lambda: streaming_windowed_hll(
    replay(src_sorted).select("ts", F.xxhash64("uid").alias("h")),
    "ts", "h", window_duration="6 hours", watermark_delay="1 hour"))
fin = {}
for r in spark.sql(f"SELECT * FROM {qn}").collect():
    k = r["window_start"]
    fin[k] = max(fin.get(k, 0), r["estimate"])
ex = {r["w"]: r["n"] for r in
      spark.read.parquet(src_sorted)
      .select(F.window("ts", "6 hours")["start"].alias("w"), "uid")
      .groupBy("w").agg(F.countDistinct("uid").alias("n")).collect()}
assert set(fin) == set(ex), (len(fin), len(ex))
for w, n in ex.items():
    assert abs(fin[w] - n) <= max(10, 0.05 * n), (w, fin[w], n)
# eviction evidence: the time-ordered run opens 4 new windows per
# batch and evicts closed ones as the watermark passes them, so peak
# concurrent state stays FAR below the 16 total windows — while the
# unsorted run above (nothing evictable) must accumulate all 16
rows_seq = out["whll_evict_state_rows"]
assert rows_seq and out["whll_state_rows"] and (
    max(rows_seq) < max(out["whll_state_rows"])), (
    rows_seq, out["whll_state_rows"])
assert max(rows_seq) < len(ex), rows_seq
out["whll_evict_windows"] = len(ex)

# --- KEYED windowed HLL, eviction active ----------------------------
# The unkeyed eviction run has only ~5 live window GROUPS per batch,
# so its stateful stage runs <=5-wide; keying the windows (realistic
# deployments track distincts per source/key per window) multiplies
# groups by N_KEYS and recovers the stage width — measured 2.5x the
# unkeyed eviction throughput at 32 cores.
qn = run_op("whll_evict_keyed", lambda: streaming_windowed_hll(
    replay(src_sorted).select("ts", "key", F.xxhash64("uid").alias("h")),
    "ts", "h", window_duration="6 hours", keys=["key"],
    watermark_delay="1 hour"))
fin = {}
for r in spark.sql(f"SELECT * FROM {qn}").collect():
    if r["key"] == 7:  # probe key: per-window estimates must be in band
        k = r["window_start"]
        fin[k] = max(fin.get(k, 0), r["estimate"])
ex = {r["w"]: r["n"] for r in
      spark.read.parquet(src_sorted).filter(F.col("key") == 7)
      .select(F.window("ts", "6 hours")["start"].alias("w"), "uid")
      .groupBy("w").agg(F.countDistinct("uid").alias("n")).collect()}
assert set(fin) == set(ex), (len(fin), len(ex))
for w, n in ex.items():
    assert abs(fin[w] - n) <= max(10, 0.05 * n), (w, fin[w], n)
rows_seq = out["whll_evict_keyed_state_rows"]
assert rows_seq and max(rows_seq) < 16 * 256, rows_seq  # evicting
keyed_fin = {}
for r in spark.sql(f"SELECT * FROM {qn}").collect():
    k = (r["key"], r["window_start"])
    keyed_fin[k] = max(keyed_fin.get(k, 0), r["estimate"])

# --- KEYED windowed HLL via JVM micro-batch pre-reduction -----------
# Same job as whll_evict_keyed, two-stage: stage 1 compacts each
# micro-batch PURE-Catalyst (groupBy(key, window).collect_set(hash) in
# foreachBatch -> staging parquet, no Python exchange at all); stage 2
# folds the packed rows statefully (packed=True).  Rows crossing the
# JVM->Python exchange drop from O(events) to O(groups x batches), so
# the ~4-5M rows/s per-box exchange ceiling no longer binds.  Reported
# time = stage1 + stage2 (sequential availableNow); estimates must be
# IDENTICAL to the single-stage run's (same hash sets per window).
from tdigest_spark.streaming.digest_stream import (
    prereduce_windowed_hashes, read_packed_stream,
)
pr_times, pr1, pr2, pr_steals = [], [], [], []
# stage 2's stateful stage sees O(groups) packed rows, not O(events):
# its cost is DOMINATED by per-state-partition-per-micro-batch task
# overhead (~80-190ms each — state-store load/commit + the Python
# state-protocol handshake; an EMPTY batch measured 5.1s at 64
# partitions vs 1.5s at 8), so (a) size the state stage well below
# the 64-partition row-volume default (conf read at query start; each
# trial's fresh checkpoint pins its own partition count) and (b) let
# availableNow fold ALL staged batches in one trigger (no
# maxFilesPerTrigger throttle — the backfill shape; per-window finals
# are identical either way, asserted below)
for t in range(trials):
    stg = tempfile.mkdtemp(prefix="ssc_prereduce_stg_")
    ck1 = tempfile.mkdtemp(prefix="ssc_prereduce_ck1_")
    ck2 = tempfile.mkdtemp(prefix="ssc_prereduce_ck2_")
    qn = f"whll_prereduced_{t}"
    s0, tot0 = read_steal()
    t0 = time.time()
    q1 = prereduce_windowed_hashes(
        replay(src_sorted).select("ts", "key", F.xxhash64("uid").alias("h")),
        "ts", "h", "6 hours", stg + "/s", ck1, keys=["key"],
        availableNow=True)
    assert q1.awaitTermination(1800)
    t1 = time.time()
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    q2 = (streaming_windowed_hll(
            read_packed_stream(spark, stg + "/s"),
            "window_start", "h", "6 hours", keys=["key"],
            watermark_delay="1 hour", packed=True)
          .writeStream.format("memory").queryName(qn)
          .outputMode("update").option("checkpointLocation", ck2)
          .trigger(availableNow=True).start())
    assert q2.awaitTermination(1800)
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    t2 = time.time()
    pr_times.append(round(t2 - t0, 2))
    pr1.append(round(t1 - t0, 2)); pr2.append(round(t2 - t1, 2))
    s1, tot1 = read_steal()
    pr_steals.append(round(100.0 * (s1 - s0) / max(1, tot1 - tot0), 2))
    if t < trials - 1:
        shutil.rmtree(stg, ignore_errors=True)
    shutil.rmtree(ck1, ignore_errors=True)
    shutil.rmtree(ck2, ignore_errors=True)
best = min(pr_times)
out["whll_prereduced_sec"] = best
out["whll_prereduced_events_per_sec"] = int(n_total / best)
out["whll_prereduced_times"] = pr_times
out["whll_prereduced_stage1_times"] = pr1
out["whll_prereduced_stage2_times"] = pr2
out["whll_prereduced_steal_pct"] = pr_steals
out["whll_prereduced_staged_rows"] = spark.read.parquet(stg + "/s/batch=*").count()
out["whll_prereduced_speedup_vs_keyed"] = round(
    out["whll_evict_keyed_sec"] / best, 2)
pre_fin = {}
for r in spark.sql(f"SELECT * FROM {qn}").collect():
    k = (r["key"], r["window_start"])
    pre_fin[k] = max(pre_fin.get(k, 0), r["estimate"])
assert pre_fin == keyed_fin, (
    "prereduced finals diverge from single-stage",
    len(pre_fin), len(keyed_fin),
    sum(pre_fin.values()), sum(keyed_fin.values()))
shutil.rmtree(stg, ignore_errors=True)

print(json.dumps(out))
"""


def _gen_session(name: str):
    from pyspark.sql import SparkSession

    from tdigest_spark.spark.session import python_worker_confs

    spark = (
        SparkSession.builder.appName(name)
        .master("local[32]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config(map=python_worker_confs())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _event_cols(ts_secs_expr):
    """The ONE closed-form column set shared by both corpora (only the
    ts expression differs — scattered vs monotone): all columns are
    pure functions of the row id, so generation is deterministic
    regardless of partitioning; value is a uniform double from a
    63-bit hash, uid gives ~1M distincts."""
    from pyspark.sql import functions as F

    return [
        (F.col("id") % N_KEYS).cast("int").alias("key"),
        (
            F.abs(F.xxhash64(F.col("id"), F.lit(41)))
            / float((1 << 63) - 1)
            * 100.0
        ).alias("value"),
        (
            F.to_timestamp(F.lit("2024-05-01 00:00:00"))
            + F.make_interval(secs=ts_secs_expr)
        ).alias("ts"),
        (F.col("id") % 1_000_000).alias("uid"),
    ]


def _cached(path: str, n_rows: int) -> bool:
    marker = os.path.join(path, "_SUCCESS")
    meta = os.path.join(path, "_N_ROWS")
    if os.path.exists(marker) and os.path.exists(meta):
        with open(meta) as f:
            return int(f.read().strip()) == n_rows
    return False


def _stamp(path: str, n_rows: int) -> None:
    with open(os.path.join(path, "_N_ROWS"), "w") as f:
        f.write(str(n_rows))


def ensure_events(n_rows: int) -> None:
    if _cached(EVENTS, n_rows):
        return
    from pyspark.sql import functions as F

    spark = _gen_session("stream-scale-gen")
    df = spark.range(n_rows).select(
        *_event_cols(F.col("id") % (4 * 86400))
    )
    df.repartition(N_FILES).write.mode("overwrite").parquet(EVENTS)
    _stamp(EVENTS, n_rows)
    spark.stop()


def ensure_events_sorted(n_rows: int, path: str = EVENTS_SORTED, zipf: bool = False) -> None:
    """Time-ordered variant for the eviction-active run: the same
    closed-form columns, but ts is monotone in the row id and the 8
    files carry ASCENDING mtimes in event-time order, so the
    file-source replays them oldest-first and the watermark advances
    past closed windows mid-stream.  Written as ONE parallel job
    (range-partitioned by id, so each output file is a contiguous
    12-hour slice), then mtimes are imposed afterwards from each
    file's parquet ts statistics — 8 sequential single-writer jobs
    measured minutes slower for the same bytes.

    ``zipf=True`` swaps the uniform-cycle uid (which has ~NO repeats
    within a (key, window) cell at bench scales — a (key, uid) pair
    recurs only every lcm(256, 1M) = 4M ids) for a log-uniform draw
    over [1, 1M] (Zipf-1 web repeat traffic, still a closed-form
    function of the row id) — the duplication-heavy regime the
    prereduce path exists for; written to ``EVENTS_ZIPF``."""
    import time as _time

    if _cached(path, n_rows):
        return
    import shutil

    from pyspark.sql import functions as F

    spark = _gen_session("stream-scale-gen-sorted")
    shutil.rmtree(path, ignore_errors=True)
    span = 4 * 86400
    cols = _event_cols((F.col("id") * span / n_rows).cast("long"))
    if zipf:
        u = F.abs(F.xxhash64(F.col("id"), F.lit(7))) / float((1 << 63) - 1)
        cols = cols[:-1] + [
            F.floor(F.pow(F.lit(1_000_000.0), u)).cast("long").alias("uid")
        ]
    df = spark.range(n_rows).select(F.col("id"), *cols)
    # single-writer files default to ~128MB row groups, and splits
    # cannot be finer than a row group — 16MB groups keep the
    # replay's scan parallelism comparable to the unsorted corpus
    (
        df.repartitionByRange(N_FILES, "id")
        .drop("id")
        .write.option("parquet.block.size", str(16 * 1024 * 1024))
        .mode("overwrite")
        .parquet(path)
    )
    spark.stop()
    # impose replay order: FileStreamSource processes files by mtime;
    # stamp each part file with an mtime ascending in its ts range
    # (read from the parquet footer statistics — no data scan)
    import pyarrow.parquet as pq

    parts = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    def min_ts(p):
        # parquet stats are not written for this timestamp column;
        # rows within a file are ts-sorted (range partition on id,
        # monotone ts), so the first row IS the file minimum
        batch = next(
            pq.ParquetFile(p).iter_batches(batch_size=1, columns=["ts"])
        )
        return batch.column(0)[0].as_py()
    parts.sort(key=min_ts)
    now = _time.time()
    for i, p in enumerate(parts):
        os.utime(p, (now + i, now + i))  # 1s apart, oldest slice first
    _stamp(path, n_rows)


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 32_000_000
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    lo = max(1, hi // 4)
    ensure_events(n_rows)
    ensure_events_sorted(n_rows)
    results = {}
    for cores in (lo, hi):
        body = WORKER % {"root": ROOT, "events": EVENTS,
                         "events_sorted": EVENTS_SORTED}
        proc = subprocess.run(
            [sys.executable, "-c", body, str(cores), str(trials)],
            capture_output=True,
            text=True,
            timeout=3600,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"worker at local[{cores}] failed")
        results[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
    for op in ("tdigest", "tdigest_combined", "whll", "whll_evict",
               "whll_evict_keyed"):
        r_lo, r_hi = results[lo], results[hi]
        speedup = r_hi[f"{op}_events_per_sec"] / r_lo[f"{op}_events_per_sec"]
        results[f"{op}_scaling_efficiency_{lo}_{hi}"] = round(
            speedup / (hi / lo), 3
        )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
