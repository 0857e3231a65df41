"""Per-layer measurement taken from outside the library.

Two sources feed the traced run:

* Spark's own status store, read after each real query: jobs, stages,
  tasks, task run time, stage intervals and shuffle (exchange) volume.
* A single-process replay of each operation that calls the engine's
  functions in pipeline order -- split planning, native scan, group
  slicing, fold, serialize, then deserialize, merge and finalize per
  group -- with a span around every call.

Spans live in memory (name, start, end, parent, query id) and are
written out once at exit.  A layer's self time is its spans' duration
minus the part their child spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.qid: str | None = None
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "qid": self.qid})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.perf_counter(), 0.0, parent)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def self_times(self, qids) -> dict[str, float]:
        """Sum of self time per span name over the given query ids."""
        qids = set(qids)
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["qid"] not in qids:
                continue
            covered, reach = 0.0, s["start"]
            for c in sorted(kids[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ----------------------------------------------------------------------
# Spark status store
# ----------------------------------------------------------------------
def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_counters(spark, group: str, start: float, end: float, tr: Tracer) -> dict:
    """Counters of every job Spark ran under job group ``group`` during
    the query wall interval [start, end] (epoch seconds).  Stages that
    read no shuffle are the partial (scan) side; stages that read one
    are the merge side."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    qspan = tr.add("query", start, end)
    c = defaultdict(float)
    intervals = []
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup(group):
        c["spark.jobs"] += 1
        for sid in tracker.getJobInfo(jid).stageIds:
            attempts = store.stageData(sid, False, None, False, empty)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() != "COMPLETE":
                    continue
                s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                reads_shuffle = st.shuffleReadBytes() > 0 or st.shuffleReadRecords() > 0
                name = "stage.merge" if reads_shuffle else "stage.partial"
                c["spark.stages"] += 1
                c["spark.tasks"] += st.numCompleteTasks()
                c["task.run_s"] += st.executorRunTime() / 1000.0
                c["exchange.bytes"] += st.shuffleWriteBytes()
                c["exchange.records"] += st.shuffleWriteRecords()
                if s0 is not None and s1 is not None:
                    c[name + "_s"] += s1 - s0
                    tr.add(name, s0, s1, qspan)
                    intervals.append((max(s0, start), min(s1, end)))
    busy, reach = 0.0, start
    for lo, hi in sorted(intervals):
        lo = max(lo, reach)
        if hi > lo:
            busy += hi - lo
            reach = hi
    c["spark.driver_s"] += (end - start) - busy
    return c


def floor_s(spark, n: int, reps: int = 5) -> float:
    """Median wall time of an empty n-task Python job."""
    sc = spark.sparkContext
    times = []
    for _ in range(reps + 1):
        t0 = time.perf_counter()
        sc.parallelize(range(n), n).map(lambda x: x).collect()
        times.append(time.perf_counter() - t0)
    return sorted(times[1:])[reps // 2]


# ----------------------------------------------------------------------
# single-process replay
# ----------------------------------------------------------------------
def _fold_fns(op):
    from tdigest_spark.kernel.tdigest import TDigest
    from tdigest_spark.spark import tdigest_agg as T

    from workloads import COMPRESSION

    if op.fold == "digests":
        return lambda: T._DigestAcc(None), T._fold_digests(op.inputs[0])
    if op.fold == "value_counts":
        fold = T._fold_value_counts(op.inputs[0], op.inputs[1], COMPRESSION)
    else:
        fold = T._fold_values(op.inputs[0])
    return lambda: TDigest(COMPRESSION), fold


def _compactions(st) -> int:
    d = getattr(st, "d", st)
    return d.ncompactions if d is not None else 0


def _decoded_rows(entry) -> int:
    import pyarrow.parquet as pq

    path, rgs, rrange = entry if len(entry) == 3 else (*entry, None)
    if rrange is not None:
        return rrange[1] - rrange[0]
    md = pq.ParquetFile(path).metadata
    if rgs is None:
        return md.num_rows
    return sum(md.row_group(g).num_rows for g in rgs)


def _merge_groups(tr, c, groups, keys, finish, col) -> list[dict]:
    from tdigest_spark.kernel.tdigest import TDigest, merge_all

    rows = []
    for key, blobs in groups.items():
        c["merge.blobs"] += len(blobs)
        c["merge.groups"] += 1
        with tr.span("deserialize"):
            ds = [TDigest.from_bytes(b) for b in blobs]
        with tr.span("merge"):
            d = merge_all(ds)
        with tr.span("finalize"):
            val = finish(d) if d is not None else None
        rows.append({**dict(zip(keys, key)), col: val})
    return rows


def replay(spark, op, tr: Tracer) -> tuple[list[dict], dict]:
    """Run ``op``'s aggregate in this process, layer by layer, and
    return its result rows and counters.  Each native-scan split stands
    for one partial task; the partials are grouped by key as the
    exchange would, then merged and finalized per group."""
    from tdigest_spark.spark import arrow_agg as A
    from tdigest_spark.spark import tdigest_agg as T

    c = defaultdict(float)
    df = op.frame(spark)
    keys = list(op.keys)
    needed = list(dict.fromkeys([*keys, *op.inputs]))
    new_state, fold = _fold_fns(op)
    with tr.span("op"):
        native = None
        if A.NATIVE_SCAN:
            A._PIECE_CACHE.clear()  # first call reads footers, second hits the memo
            with tr.span("plan.cold"):
                native = A._native_parquet_splits(df, needed)
            with tr.span("plan.memo"):
                A._native_parquet_splits(df, needed)
        if native is not None:
            splits, col_map, pred, pred_part, pred_data = native
            scan_ops, sources = A.native_scan_ops(col_map, needed, pred_data)
            c["plan.native"] += 1
            c["plan.splits"] += len(splits)
            c["plan.subsplits"] += sum(
                1 for b in splits for e in b if len(e) == 3 and e[2] is not None
            )
            c["scan.decoded"] += sum(_decoded_rows(e) for b in splits for e in b)
            tasks = [
                A.iter_bundle_batches(b, needed, scan_ops, sources, pred, pred_part, pred_data)
                for b in splits
            ]
        else:
            # Catalyst input: Spark computes the aggregate's input rows
            with tr.span("scan"):
                batches = df.select(*needed).toArrow().to_batches()
            c["scan.decoded"] += sum(b.num_rows for b in batches)
            tasks = [iter(batches)]
        shuffled: dict[tuple, list[bytes]] = defaultdict(list)
        for it in tasks:
            with tr.span("task"):
                states = {}
                while True:
                    with tr.span("scan"):
                        batch = next(it, None)
                    if batch is None:
                        break
                    c["scan.rows"] += batch.num_rows
                    c["scan.batches"] += 1
                    views = A._column_views(batch, op.inputs)
                    slices = A._group_slices(batch, keys)
                    while True:
                        with tr.span("slice"):
                            nxt = next(slices, None)
                            if nxt is not None:
                                key, idx = nxt
                                cols = (views if idx is None else
                                        {n: v.take(pa.array(idx)) for n, v in views.items()})
                        if nxt is None:
                            break
                        c["slice.groups"] += 1
                        with tr.span("fold"):
                            st = states.get(key)
                            if st is None:
                                st = states[key] = new_state()
                            fold(st, **cols)
                for key, st in states.items():
                    c["fold.compactions"] += _compactions(st)
                    with tr.span("serialize"):
                        blob = T._serialize_td(st)
                    if blob is not None:
                        c["partial.count"] += 1
                        c["partial.bytes"] += len(blob)
                        shuffled[key].append(blob)
        out_col = "tdigest" if op.rollup else op.result_col
        with tr.span("merge_stage"):
            rows = _merge_groups(tr, c, shuffled, keys, op.finish, out_col)
        if op.rollup:
            regroup: dict[tuple, list[bytes]] = defaultdict(list)
            for r in rows:
                regroup[tuple(r[k] for k in op.rollup)].append(r["tdigest"])
            with tr.span("merge_stage"):
                rows = _merge_groups(tr, c, regroup, op.rollup, op.rollup_finish,
                                     op.result_col)
    return rows, c
