"""Single-command benchmark of the t-digest Spark engine.

    python3 perfbench/run.py --workload digest_store --seed 1 --seconds 25 --trace 0

Drives the public API (tdigest_spark.spark.tdigest_agg) on local[nproc]
from this one driver process: one closed-loop client runs the
workload's operations back to back, whole passes at a time, for
--seconds (longer if the tail still lacks samples).  Every answer is
checked against exact values computed from the seeded inputs; a failed
or wrong operation is counted, never retried.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics from Spark's status store and a single-process replay, plus
the tracing overhead.  Human-readable lines come first; the last line
of stdout is one JSON object.  Inputs, Spark scratch space and traces
stay under .perfbench_cache/ in the checkout.  See perfbench/DESIGN.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"

END_TO_END = {
    "setup_s": "s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "write_p50_s": "s",
    "rows_per_s": "rows/s",
    "stored_bytes_per_row": "B/row",
}
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "spark.floor_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "stage.partial_s": "s", "stage.merge_s": "s",
    "spark.driver_s": "s", "task.run_s": "s",
    "exchange.bytes": "B", "exchange.records": "count",
    "plan.cold_s": "s", "plan.memo_s": "s", "plan.native": "ratio",
    "plan.splits": "count", "plan.subsplits": "count",
    "scan.s": "s", "scan.rows": "count", "scan.rows_kept_ratio": "ratio",
    "scan.batches": "count", "slice.s": "s", "slice.groups": "count",
    "fold.s": "s", "fold.compactions": "count", "serialize.s": "s",
    "partial.count": "count", "partial.bytes": "B", "deserialize.s": "s",
    "merge.s": "s", "merge.blobs_per_group": "count", "finalize.s": "s",
    "trace.overhead_s": "s",
}
SPARK_KEYS = ("spark.jobs", "spark.stages", "spark.tasks", "stage.partial_s",
              "stage.merge_s", "spark.driver_s", "task.run_s",
              "exchange.bytes", "exchange.records")
# replay span name -> metric holding its self time
SPAN_METRICS = {"plan.cold": "plan.cold_s", "plan.memo": "plan.memo_s",
                "scan": "scan.s", "slice": "slice.s", "fold": "fold.s",
                "serialize": "serialize.s", "deserialize": "deserialize.s",
                "merge": "merge.s", "finalize": "finalize.s"}
REPLAY_KEYS = ("plan.native", "plan.splits", "plan.subsplits", "scan.rows",
               "scan.batches", "slice.groups", "fold.compactions",
               "partial.count", "partial.bytes")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def isolate() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the checkout, and let the workers import the library."""
    tmp, local = CACHE / "tmp", CACHE / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # the driver's sys.path does not reach the Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    tempfile.tempdir = None
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    """Executes operations, checks their outputs and counts failures."""

    def __init__(self, spark):
        self.spark = spark
        self.attempted = 0
        self.failed = 0

    def attempt(self, label: str, fn):
        """Call ``fn() -> (result, check errors)``; return the result, or
        None after counting and logging a raise or a failed check."""
        self.attempted += 1
        try:
            result, errs = fn()
        except Exception:  # noqa: BLE001 — counted as a failed operation
            log(f"perfbench: {label} raised\n{traceback.format_exc()}")
            self.failed += 1
            return None
        if errs:
            log(f"perfbench: {label} failed {len(errs)} checks: {errs[:3]}")
            self.failed += 1
            return None
        return result

    def run(self, op) -> float | None:
        """Time ``op.action`` and check its output; return its wall
        seconds, or None if it failed."""

        def timed():
            t0 = time.perf_counter()
            out = op.action(self.spark)
            dt = time.perf_counter() - t0
            return dt, op.check(out if op.readback is None else op.readback())

        return self.attempt(op.name, timed)


def setup(wl_name: str, data: Path, out: Path, cores: int, gen_s: float):
    from tdigest_spark.spark.session import get_spark, warm_workers

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_workers(spark)
    t2 = time.perf_counter()
    wl = workloads.WORKLOADS[wl_name](data, out)
    runner = Runner(spark)
    for name in wl.cycle(0):  # the untimed warm-up pass
        runner.run(wl.ops[name])
    setup_s = time.perf_counter() - T_START - gen_s
    return spark, wl, runner, {"setup_s": setup_s, "session.start_s": t1 - t0,
                               "session.warm_s": t2 - t1}


def measure(wl, seconds: float, run_op, min_reads: int = 0, min_passes: int = 1) -> dict:
    """Closed loop over whole passes until ``seconds`` have elapsed, at
    least ``min_reads`` reads succeeded and ``min_passes`` passes ran."""
    reads, writes, walls, by_op = [], [], [], {}
    rows, busy, p = 0, 0.0, 0
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < seconds or len(reads) < min_reads
           or p < min_passes):
        ps = time.perf_counter()
        for name in wl.cycle(p):
            op = wl.ops[name]
            dt = run_op(op, p)
            if dt is None:
                continue
            (reads if op.kind == "read" else writes).append(dt)
            by_op.setdefault(name, []).append(dt)
            rows += op.rows
            busy += dt
        walls.append(time.perf_counter() - ps)
        p += 1
    return {"reads": reads, "writes": writes, "rows": rows, "busy": busy,
            "walls": walls, "by_op": by_op}


def end_to_end(wl, m: dict, setup_s: float) -> tuple[dict, dict]:
    tail, pct, beyond = stats.tail(m["reads"])
    read_meds = [statistics.median(v) for k, v in m["by_op"].items()
                 if wl.ops[k].kind == "read"]
    vals = {
        "setup_s": setup_s,
        "read_p50_s": statistics.geometric_mean(read_meds),
        "read_tail_s": tail,
        "write_p50_s": statistics.median(m["writes"]),
        "rows_per_s": m["rows"] / m["busy"],
        "stored_bytes_per_row": workloads.stored_bytes(wl.stored) / wl.raw_rows,
    }
    notes = {
        "read_p50_s": f"geomean of {len(read_meds)} per-query medians, n={len(m['reads'])}",
        "read_tail_s": f"p{pct:g}, n={len(m['reads'])}, {beyond} beyond",
        "write_p50_s": f"n={len(m['writes'])}",
        "rows_per_s": f"{m['rows']} rows in {m['busy']:.3f} s of operations",
    }
    return vals, notes


def per_layer(spark, wl, runner, seconds: float, setup_m: dict, trace_path: Path):
    """Alternate status-store-traced and plain passes for ``seconds``,
    then replay one pass of the operations in this process."""
    tr = layers.Tracer()
    vals = {k: setup_m[k] for k in ("session.start_s", "session.warm_s")}
    vals["spark.floor_s"] = layers.floor_s(spark, stats.nproc())
    counters: dict[int, dict] = {}

    def run_op(op, p):
        if p % 2:
            return runner.run(op)
        tr.qid = f"spark:{p}:{op.name}"
        spark.sparkContext.setJobGroup(tr.qid, op.name)
        start = time.time()
        dt = runner.run(op)
        c = layers.spark_counters(spark, tr.qid, start, time.time(), tr)
        acc = counters.setdefault(p, {k: 0.0 for k in SPARK_KEYS})
        for k in SPARK_KEYS:
            acc[k] += c.get(k, 0.0)
        return dt

    m = measure(wl, seconds, run_op, min_passes=2)
    for k in SPARK_KEYS:
        vals[k] = statistics.median([c[k] for c in counters.values()])
    walls = m["walls"]
    vals["trace.overhead_s"] = statistics.median(walls[0::2]) - statistics.median(walls[1::2])

    rc: dict[str, float] = {}
    qids = []
    names = wl.cycle(0)
    for name in names:
        op = wl.ops[name]
        tr.qid = f"replay:{name}"
        qids.append(tr.qid)

        def replayed(op=op):
            rows, c = layers.replay(spark, op, tr)
            return c, op.check(rows)

        for k, v in (runner.attempt(f"replay {name}", replayed) or {}).items():
            rc[k] = rc.get(k, 0.0) + v
    self_s = tr.self_times(qids)
    for span, metric in SPAN_METRICS.items():
        vals[metric] = self_s.get(span, 0.0)
    for k in REPLAY_KEYS:
        vals[k] = rc.get(k, 0.0)
    vals["plan.native"] = rc.get("plan.native", 0.0) / len(names)
    vals["scan.rows_kept_ratio"] = rc.get("scan.rows", 0.0) / max(1.0, rc.get("scan.decoded", 0.0))
    vals["merge.blobs_per_group"] = rc.get("merge.blobs", 0.0) / max(1.0, rc.get("merge.groups", 0.0))
    tr.dump(trace_path)
    notes = {k: "median per traced pass" for k in SPARK_KEYS}
    notes["trace.overhead_s"] = (f"traced minus plain pass wall, "
                                 f"{len(walls[0::2])}+{len(walls[1::2])} passes")
    notes["scan.s"] = f"replay of one pass: {', '.join(names)}"
    return {k: vals[k] for k in PER_LAYER}, notes


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    isolate()
    import numpy
    import pyarrow
    import pyspark

    import tdigest_spark.spark.tdigest_agg  # noqa: F401 — fail fast without the library

    cores = stats.nproc()
    load1 = os.getloadavg()[0]
    steal0 = stats.read_steal()

    t = time.perf_counter()
    data = workloads.ensure_dataset(CACHE, args.workload, args.seed, 1.0)
    gen_s = time.perf_counter() - t

    out = CACHE / f"run-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    spark = None
    try:
        spark, wl, runner, setup_m = setup(args.workload, data, out, cores, gen_s)
        if args.trace:
            (CACHE / "traces").mkdir(exist_ok=True)
            trace_path = CACHE / "traces" / f"{args.workload}-s{args.seed}.json"
            metrics, notes = per_layer(spark, wl, runner, args.seconds, setup_m,
                                       trace_path)
            units = PER_LAYER
        else:
            m = measure(wl, args.seconds, lambda op, _p: runner.run(op),
                        min_reads=2 * stats.TAIL_BEYOND)
            metrics, notes = end_to_end(wl, m, setup_m["setup_s"])
            units = END_TO_END
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(out, ignore_errors=True)

    prov = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores,
        "load1_at_start": load1,
        "steal_pct": round(stats.steal_pct(steal0, stats.read_steal()), 3),
        "generate_s": round(gen_s, 3), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
    }
    print("provenance " + json.dumps(prov))
    for k, v in metrics.items():
        note = f" ({notes[k]})" if k in notes else ""
        print(f"{k} {v:.6g} {units[k]}{note}")
    print(f"error_rate {runner.failed / runner.attempted:.6g} ratio "
          f"({runner.failed} of {runner.attempted} operations)")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
