"""Seeded workloads: input generators that also emit the exact answers,
the timed operations over the public API, and the output checks.

Every generator is deterministic in (seed, size) and caches its tables
and answers under ``<cache>/<workload>-s<seed>-x<size>/``.  The checks
compare each returned estimate with the exact answer from the raw
values: a quantile may be off by at most RANK_TOL in rank, plus 1/n for
a group of n rows, and digest counts must equal the group's row count.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COMPRESSION = 100
# twice the single-digest band tests/test_kernel_tdigest.py asserts at
# compression 100: the engine answers from merged digests, which measured
# up to 1.06% rank error on the lineitem-like 99-quantile vector (4
# partials; 0.63% from one digest) and up to 1.1% at p50 when ~600 stored
# 50-100-row digests are re-aggregated
RANK_TOL = 0.02
PS99 = [i / 100 for i in range(1, 100)]
CACHE_KEEP = 4  # datasets kept per workload; older ones are deleted


# ----------------------------------------------------------------------
# exact answers
# ----------------------------------------------------------------------
def _eps(n: int) -> float:
    return RANK_TOL + 1.0 / n


def quantile_band(xs: np.ndarray, p: float) -> list:
    """[lo, hi] such that an estimate e has rank error <= eps for the
    sorted sample xs exactly when lo <= e <= hi (None = unbounded).
    Rank error is the distance from p to [#(x < e)/n, #(x <= e)/n]."""
    n = xs.size
    e = _eps(n)
    m = math.ceil(n * (p - e) - 1e-9)  # need #(x <= est) >= m
    k = math.floor(n * (p + e) + 1e-9)  # need #(x < est) <= k
    lo = float(xs[m - 1]) if m >= 1 else None
    hi = float(xs[k]) if k < n else None
    return [lo, hi]


def rank_interval(xs: np.ndarray, v: float) -> list:
    """Exact [#(x < v)/n, #(x <= v)/n] of v in the sorted sample xs."""
    n = xs.size
    return [
        int(np.searchsorted(xs, v, side="left")) / n,
        int(np.searchsorted(xs, v, side="right")) / n,
    ]


def _trimmed_mean(xs: np.ndarray, lo: float, hi: float) -> float:
    n = xs.size
    a = min(int(math.floor(lo * n)), n - 1)
    b = max(int(math.ceil(hi * n)), a + 1)
    return float(xs[a:b].mean())


def trim_bracket(xs: np.ndarray, lo: float, hi: float) -> list:
    """The trimmed mean grows with both rank bounds, so shifting both
    by the rank tolerance brackets every acceptable estimate."""
    e = _eps(xs.size)
    return [
        _trimmed_mean(xs, max(0.0, lo - e), max(0.0, hi - e)),
        _trimmed_mean(xs, min(1.0, lo + e), min(1.0, hi + e)),
    ]


def gkey(*vals) -> str:
    """JSON group-key string shared by answers and result rows."""
    return json.dumps([v.item() if hasattr(v, "item") else v for v in vals])


def _groups(key_cols: list[np.ndarray], values: np.ndarray):
    """Yield (key string, sorted values) per distinct key combination."""
    if not key_cols:
        yield gkey(), np.sort(values)
        return
    order = np.lexsort((values, *reversed(key_cols)))
    cols = [c[order] for c in key_cols]
    vals = values[order]
    change = np.zeros(vals.size, dtype=bool)
    change[0] = True
    for c in cols:
        change[1:] |= c[1:] != c[:-1]
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], vals.size)
    for s, e in zip(starts, ends):
        yield gkey(*(c[s] for c in cols)), vals[s:e]


def quantile_answer(key_cols, values, ps) -> dict:
    return {
        g: {"n": int(xs.size), "bands": [quantile_band(xs, p) for p in ps]}
        for g, xs in _groups(key_cols, values)
    }


# ----------------------------------------------------------------------
# checks
# ----------------------------------------------------------------------
def _within(v, lo, hi) -> bool:
    return v is not None and (lo is None or v >= lo) and (hi is None or v <= hi)


def _keyed(rows, keys) -> dict:
    out = {}
    for r in rows:
        out[gkey(*(r[k] for k in keys))] = r
    return out


def _check_groups(name, rows, keys, expect) -> tuple[dict, list[str]]:
    got = _keyed(rows, keys)
    errs = []
    if len(got) != len(rows):
        errs.append(f"{name}: duplicate groups in {len(rows)} rows")
    if set(got) != set(expect):
        errs.append(f"{name}: {len(got)} groups, expected {len(expect)}")
    return got, errs


def check_quantiles(name, rows, keys, col, ps, expect) -> list[str]:
    got, errs = _check_groups(name, rows, keys, expect)
    for g in set(got) & set(expect):
        est = got[g][col]
        est = est if isinstance(est, list) else [est]
        if len(est) != len(ps):
            errs.append(f"{name} {g}: {len(est)} values for {len(ps)} quantiles")
            continue
        for p, v, (lo, hi) in zip(ps, est, expect[g]["bands"]):
            if not _within(v, lo, hi):
                errs.append(f"{name} {g} p={p}: {v} outside [{lo}, {hi}]")
    return errs


def check_ranks(name, rows, keys, col, expect) -> list[str]:
    got, errs = _check_groups(name, rows, keys, expect)
    for g in set(got) & set(expect):
        v = got[g][col]
        lo, hi = expect[g]["rank"]
        e = _eps(expect[g]["n"])
        if v is None or not (lo - e <= v <= hi + e):
            errs.append(f"{name} {g}: rank {v} outside [{lo}, {hi}] +- {e:.4f}")
    return errs


def check_trimmed(name, rows, keys, col, expect) -> list[str]:
    got, errs = _check_groups(name, rows, keys, expect)
    for g in set(got) & set(expect):
        v = got[g][col]
        lo, hi = expect[g]["bracket"]
        slack = 1e-9 * max(abs(lo), abs(hi))
        if v is None or not (lo - slack <= v <= hi + slack):
            errs.append(f"{name} {g}: trimmed avg {v} outside [{lo}, {hi}]")
    return errs


def check_digests(name, rows, keys, col, ps, expect) -> list[str]:
    """Stored or returned digests: item count equals the group's rows
    and each quantile falls in its band."""
    from tdigest_spark.kernel.tdigest import TDigest

    got, errs = _check_groups(name, rows, keys, expect)
    for g in set(got) & set(expect):
        blob = got[g][col]
        if blob is None:
            errs.append(f"{name} {g}: NULL digest")
            continue
        d = TDigest.from_bytes(bytes(blob))
        if d.count != expect[g]["n"]:
            errs.append(f"{name} {g}: count {d.count}, expected {expect[g]['n']}")
        for p, (lo, hi) in zip(ps, expect[g].get("bands", [])):
            v = d.quantile(p)
            if not _within(v, lo, hi):
                errs.append(f"{name} {g} p={p}: {v} outside [{lo}, {hi}]")
    return errs


# ----------------------------------------------------------------------
# operations
# ----------------------------------------------------------------------
@dataclass
class Op:
    """One timed action over the public API plus what the trace needs
    to replay it layer by layer in one process.

    ``action(spark)`` is the timed region: a collect (returns result
    rows as dicts) or a write (returns None; ``readback()`` then loads
    the written rows for the check).  ``frame(spark)`` is the DataFrame
    handed to the aggregate; ``fold`` names the engine fold over it and
    ``finish`` maps each group's merged digest to its result value.
    ``rollup`` re-merges the finished digests by coarser keys and
    finishes them with ``rollup_finish``."""

    name: str
    kind: str
    rows: int
    action: Callable
    check: Callable
    frame: Callable
    keys: list
    inputs: list
    fold: str
    finish: Callable
    result_col: str
    readback: Callable | None = None
    rollup: list | None = None
    rollup_finish: Callable | None = None


@dataclass
class Workload:
    ops: dict
    cycle: Callable  # pass index -> op names, in order; pass 0 warms up
    stored: list  # directories holding persisted digest tables
    raw_rows: int  # input rows the stored digests summarize


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _read_parquet_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def stored_bytes(dirs) -> int:
    return sum(
        p.stat().st_size for d in dirs for p in Path(d).glob("part-*")
    )


# ----------------------------------------------------------------------
# cache
# ----------------------------------------------------------------------
def ensure_dataset(cache: Path, workload: str, seed: int, size: float) -> Path:
    """Generate the dataset unless a complete cached copy exists.  The
    key includes a hash of this file, so edited generators or answers
    never reuse a stale copy."""
    src = hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:8]
    out = cache / f"{workload}-s{seed}-x{size:g}-{src}"
    if (out / "answers.json").exists():
        os.utime(out)
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    answers = GENERATORS[workload](np.random.default_rng([seed, _WID[workload]]), size, tmp)
    with open(tmp / "answers.json", "w") as f:
        json.dump(answers, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    old = sorted(
        (p for p in cache.glob(f"{workload}-s*") if p != out and p.is_dir()),
        key=lambda p: p.stat().st_mtime,
    )
    for p in old[: max(0, len(old) - (CACHE_KEEP - 1))]:
        shutil.rmtree(p, ignore_errors=True)
    return out


# ----------------------------------------------------------------------
# interactive_suite: bench.py's seven queries on sf0.1-shaped tables
# ----------------------------------------------------------------------
def gen_interactive(rng, size: float, out: Path) -> dict:
    n_li = int(600_000 * size)
    n_ev = int(100_000 * size)
    n_doc = max(int(5_000 * size), 50)
    rf = np.array(["A", "N", "R"])[rng.choice(3, n_li, p=[0.25, 0.5, 0.25])]
    ls = np.array(["F", "O"])[rng.integers(0, 2, n_li)]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    li = pa.table({
        "l_returnflag": rf, "l_linestatus": ls,
        "l_quantity": qty, "l_extendedprice": price,
    })
    # one fat row group: fewer pieces than cores, so the engine
    # sub-splits it by row range
    pq.write_table(li, out / "lineitem.parquet", row_group_size=n_li)
    etype = np.array(["cart", "click", "error", "purchase", "view"])[
        rng.integers(0, 5, n_ev)
    ]
    value = np.round(np.minimum(rng.gamma(2.0, 20.0, n_ev), 560.0), 2)
    pq.write_table(
        pa.table({"event_type": etype, "value": value}), out / "events.parquet"
    )
    lang = np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)]
    n_chars = rng.integers(44, 578, n_doc).astype(np.int64)
    pq.write_table(
        pa.table({"lang": lang, "n_chars": n_chars}), out / "documents.parquet"
    )
    ev_groups = {
        g: {"n": int(xs.size), "rank": rank_interval(xs, 15.0)}
        for g, xs in _groups([etype], value)
    }
    trim = {
        g: {"n": int(xs.size), "bracket": trim_bracket(xs, 0.1, 0.9)}
        for g, xs in _groups([ls], price)
    }
    return {
        "rows": {"lineitem": n_li, "events": n_ev, "documents": n_doc},
        "build_p95_grouped": quantile_answer([rf], price, [0.95]),
        "docs_p95_by_lang": quantile_answer([lang], n_chars.astype(np.float64), [0.95]),
        "percentile_vector_global": quantile_answer([], price, PS99),
        "percentile_of_grouped": ev_groups,
        "trimmed_avg": trim,
        "value_count_ingest": quantile_answer([rf], qty, [0.5]),
        "preagg_then_rollup": quantile_answer([rf], price, [0.9]),
        "write_digests": quantile_answer([rf, ls], price, [0.5]),
    }


def interactive_suite(data: Path, out: Path) -> Workload:
    from pyspark.sql import functions as F

    from tdigest_spark.spark.tdigest_agg import (
        tdigest,
        tdigest_avg,
        tdigest_percentile,
        tdigest_percentile_digests,
        tdigest_percentile_of,
        tdigest_union_agg,
    )

    with open(data / "answers.json") as f:
        ans = json.load(f)
    n_li, n_ev, n_doc = (ans["rows"][t] for t in ("lineitem", "events", "documents"))
    C = COMPRESSION
    store = str(out / "li_digests")

    def li(spark):
        return spark.read.parquet(str(data / "lineitem.parquet")).select(
            "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"
        )

    def docs(spark):
        return spark.read.parquet(str(data / "documents.parquet")).select(
            "lang", F.col("n_chars").cast("double").alias("n_chars")
        )

    def ev(spark):
        return spark.read.parquet(str(data / "events.parquet")).select(
            "event_type", "value"
        )

    def value_counts(spark):
        return li(spark).groupBy("l_returnflag", "l_quantity").agg(
            F.count("*").alias("cnt")
        )

    def preagg_rollup(spark):
        dig = tdigest(li(spark), "l_extendedprice", C, keys=["l_returnflag", "l_linestatus"])
        rolled = tdigest_union_agg(dig, "tdigest", keys=["l_returnflag"])
        return _rows(tdigest_percentile_digests(rolled, "tdigest", 0.9, keys=["l_returnflag"]))

    def q(name, rows, action, frame, keys, inputs, col, check, fold="values",
          finish=None, kind="read", **kw):
        return Op(name, kind, rows, action, check, frame, keys, inputs, fold,
                  finish, col, **kw)

    rf, ls = ["l_returnflag"], ["l_linestatus"]
    ops = [
        q("build_p95_grouped", n_li,
          lambda s: _rows(tdigest_percentile(li(s), "l_extendedprice", C, 0.95, keys=rf)),
          li, rf, ["l_extendedprice"], "percentile",
          lambda r: check_quantiles("build_p95_grouped", r, rf, "percentile", [0.95],
                                    ans["build_p95_grouped"]),
          finish=lambda d: d.quantile(0.95)),
        q("docs_p95_by_lang", n_doc,
          lambda s: _rows(tdigest_percentile(docs(s), "n_chars", C, 0.95, keys=["lang"])),
          docs, ["lang"], ["n_chars"], "percentile",
          lambda r: check_quantiles("docs_p95_by_lang", r, ["lang"], "percentile", [0.95],
                                    ans["docs_p95_by_lang"]),
          finish=lambda d: d.quantile(0.95)),
        q("percentile_vector_global", n_li,
          lambda s: _rows(tdigest_percentile(li(s), "l_extendedprice", C, PS99)),
          li, [], ["l_extendedprice"], "percentile",
          lambda r: check_quantiles("percentile_vector_global", r, [], "percentile", PS99,
                                    ans["percentile_vector_global"]),
          finish=lambda d: d.quantiles(PS99).tolist()),
        q("percentile_of_grouped", n_ev,
          lambda s: _rows(tdigest_percentile_of(ev(s), "value", C, 15.0, keys=["event_type"])),
          ev, ["event_type"], ["value"], "percentile_of",
          lambda r: check_ranks("percentile_of_grouped", r, ["event_type"], "percentile_of",
                                ans["percentile_of_grouped"]),
          finish=lambda d: d.quantile_of(15.0)),
        q("trimmed_avg", n_li,
          lambda s: _rows(tdigest_avg(li(s), "l_extendedprice", C, 0.1, 0.9, keys=ls)),
          li, ls, ["l_extendedprice"], "avg",
          lambda r: check_trimmed("trimmed_avg", r, ls, "avg", ans["trimmed_avg"]),
          finish=lambda d: d.trimmed_avg(0.1, 0.9)),
        q("value_count_ingest", n_li,
          lambda s: _rows(tdigest_percentile(value_counts(s), "l_quantity", C, 0.5,
                                             keys=rf, count_col="cnt")),
          value_counts, rf, ["l_quantity", "cnt"], "percentile",
          lambda r: check_quantiles("value_count_ingest", r, rf, "percentile", [0.5],
                                    ans["value_count_ingest"]),
          fold="value_counts", finish=lambda d: d.quantile(0.5)),
        q("preagg_then_rollup", n_li, preagg_rollup,
          li, ["l_returnflag", "l_linestatus"], ["l_extendedprice"], "percentile",
          lambda r: check_quantiles("preagg_then_rollup", r, rf, "percentile", [0.9],
                                    ans["preagg_then_rollup"]),
          finish=lambda d: d.to_bytes(), rollup=rf,
          rollup_finish=lambda d: d.quantile(0.9)),
        q("write_digests", n_li,
          lambda s: _write(tdigest(li(s), "l_extendedprice", C,
                                   keys=["l_returnflag", "l_linestatus"]), store),
          li, ["l_returnflag", "l_linestatus"], ["l_extendedprice"], "tdigest",
          lambda r: check_digests("write_digests", r, ["l_returnflag", "l_linestatus"],
                                  "tdigest", [0.5], ans["write_digests"]),
          finish=lambda d: d.to_bytes(), kind="write",
          readback=lambda: _read_parquet_rows(store)),
    ]
    names = [o.name for o in ops]
    return Workload({o.name: o for o in ops}, lambda _p: names, [store], n_li)


# ----------------------------------------------------------------------
# digest_store: per-key digests persisted, then re-aggregated
# ----------------------------------------------------------------------
SHARDS = 4
COARSE = 16


def gen_digest_store(rng, size: float, out: Path) -> dict:
    nk = max(int(10_000 * size), 4 * COARSE)
    keys = np.unique(rng.integers(-(1 << 62), 1 << 62, 2 * nk, dtype=np.int64))
    keys = rng.permutation(keys)[:nk]
    per = rng.integers(50, 101, nk)
    idx = np.repeat(np.arange(nk), per)
    v = np.exp(rng.normal(0.0, 1.0, nk)[idx] + rng.normal(0.0, 0.5, idx.size))
    k = keys[idx]
    coarse = (np.arange(nk) % COARSE).astype(np.int32)[idx]
    shard = (np.arange(nk) % SHARDS)[idx]
    for s in range(SHARDS):
        # a shard holds a quarter of the keys, its rows spread in random
        # order over 4 files (one scan task each on 4 cores)
        rows = rng.permutation(np.flatnonzero(shard == s))
        d = out / f"raw_s{s}"
        d.mkdir()
        for f, part in enumerate(np.array_split(rows, 4)):
            pq.write_table(
                pa.table({"coarse": coarse[part], "k": k[part], "v": v[part]}),
                d / f"part-{f}.parquet",
            )
    # a stored per-key digest is checked by its count only: after the
    # 4-way partial merge, quantiles of 50-100-row groups stray up to
    # ~4/n in rank, beyond the band; reads check quantiles on the
    # coarse and global groups instead
    kc = (np.arange(nk) % COARSE).tolist()
    per_key = {gkey(kc[j], int(keys[j])): {"n": int(per[j]), "shard": j % SHARDS}
               for j in range(nk)}
    # the store as the runs find it: one digest per key, built in-process
    from tdigest_spark.kernel.tdigest import tdigest_from_values

    blobs = {g: tdigest_from_values(xs, COMPRESSION).to_bytes()
             for g, xs in _groups([coarse, k], v)}
    for s in range(SHARDS):
        ks = [(kc[j], int(keys[j])) for j in range(s, nk, SHARDS)]
        d = out / f"store_s{s}"
        d.mkdir()
        pq.write_table(pa.table({
            "coarse": pa.array([c for c, _ in ks], pa.int32()),
            "k": pa.array([x for _, x in ks], pa.int64()),
            "tdigest": [blobs[gkey(c, x)] for c, x in ks],
        }), d / "part-0.parquet")
    by_coarse = quantile_answer([coarse], v, [0.5, 0.9, 0.99])
    by_all = quantile_answer([], v, [0.95])
    return {
        "rows": int(idx.size),
        "keys": nk,
        "shard_rows": [int((shard == s).sum()) for s in range(SHARDS)],
        "write": per_key,
        "pct_by_coarse": by_coarse,
        "pct_global": by_all,
        "union_by_coarse": {g: {"n": a["n"], "bands": a["bands"][:1]}
                            for g, a in by_coarse.items()},
        "union_global": by_all,
    }


def digest_store(data: Path, out: Path) -> Workload:
    from tdigest_spark.spark.tdigest_agg import (
        tdigest,
        tdigest_percentile_digests,
        tdigest_union_agg,
    )

    with open(data / "answers.json") as f:
        ans = json.load(f)
    C = COMPRESSION
    stores = [str(out / f"store_s{s}") for s in range(SHARDS)]
    for s, d in enumerate(stores):
        shutil.copytree(data / f"store_s{s}", d)
    ck = ["coarse", "k"]
    coarse = ["coarse"]
    qs = [0.5, 0.9, 0.99]

    def store(spark):
        return spark.read.parquet(*stores)

    def write_op(s):
        def raw(spark):
            return spark.read.parquet(str(data / f"raw_s{s}"))

        expect = {g: a for g, a in ans["write"].items() if a["shard"] == s}
        return Op(
            f"write_s{s}", "write", ans["shard_rows"][s],
            lambda sp: _write(tdigest(raw(sp), "v", C, keys=ck), stores[s]),
            lambda r: check_digests(f"write_s{s}", r, ck, "tdigest", [], expect),
            raw, ck, ["v"], "values", lambda d: d.to_bytes(), "tdigest",
            readback=lambda: _read_parquet_rows(stores[s]),
        )

    def read_op(name, keys, action, col, check, finish):
        return Op(name, "read", ans["keys"], action, check, store, keys,
                  ["tdigest"], "digests", finish, col)

    reads = [
        read_op("pct_by_coarse", coarse,
                lambda s: _rows(tdigest_percentile_digests(store(s), "tdigest", qs,
                                                           keys=coarse)),
                "percentile",
                lambda r: check_quantiles("pct_by_coarse", r, coarse, "percentile", qs,
                                          ans["pct_by_coarse"]),
                lambda d: d.quantiles(qs).tolist()),
        read_op("pct_global", [],
                lambda s: _rows(tdigest_percentile_digests(store(s), "tdigest", 0.95)),
                "percentile",
                lambda r: check_quantiles("pct_global", r, [], "percentile", [0.95],
                                          ans["pct_global"]),
                lambda d: d.quantile(0.95)),
        read_op("union_by_coarse", coarse,
                lambda s: _rows(tdigest_union_agg(store(s), "tdigest", keys=coarse)),
                "tdigest",
                lambda r: check_digests("union_by_coarse", r, coarse, "tdigest", [0.5],
                                        ans["union_by_coarse"]),
                lambda d: d.to_bytes()),
        read_op("union_global", [],
                lambda s: _rows(tdigest_union_agg(store(s), "tdigest")),
                "tdigest",
                lambda r: check_digests("union_global", r, [], "tdigest", [0.95],
                                        ans["union_global"]),
                lambda d: d.to_bytes()),
    ]
    writes = [write_op(s) for s in range(SHARDS)]
    read_names = [o.name for o in reads]
    return Workload(
        {o.name: o for o in writes + reads},
        # closed loop: one shard rewrite, then every read
        lambda p: [f"write_s{p % SHARDS}"] + read_names,
        stores, ans["rows"],
    )


GENERATORS = {"interactive_suite": gen_interactive, "digest_store": gen_digest_store}
_WID = {"interactive_suite": 1, "digest_store": 2}
WORKLOADS = {"interactive_suite": interactive_suite, "digest_store": digest_store}
