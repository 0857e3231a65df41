"""Tests for the benchmark's own helpers.  Run: python -m pytest perfbench -q"""

from __future__ import annotations

import json
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

import layers
import run
import stats
import workloads

ROOT = Path(__file__).resolve().parent.parent


def _tables(d: Path) -> dict:
    return {
        str(p.relative_to(d)): pq.read_table(p)
        for p in sorted(d.rglob("*.parquet"))
    }


@pytest.mark.parametrize("name", sorted(workloads.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, name):
    a = workloads.ensure_dataset(tmp_path / "a", name, 7, 0.02)
    b = workloads.ensure_dataset(tmp_path / "b", name, 7, 0.02)
    c = workloads.ensure_dataset(tmp_path / "c", name, 8, 0.02)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert ta and ta.keys() == tb.keys()
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert (a / "answers.json").read_text() == (b / "answers.json").read_text()
    assert not all(ta[k].equals(tc[k]) for k in ta)


def test_cached_dataset_is_reused(tmp_path):
    a = workloads.ensure_dataset(tmp_path, "interactive_suite", 1, 0.02)
    stamp = (a / "answers.json").stat().st_mtime_ns
    assert workloads.ensure_dataset(tmp_path, "interactive_suite", 1, 0.02) == a
    assert (a / "answers.json").stat().st_mtime_ns == stamp


@pytest.mark.parametrize(
    "n,pct",
    [(20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_takes_highest_percentile_with_ten_beyond(n, pct):
    xs = list(np.random.default_rng(n).permutation(n) + 1.0)
    value, p, beyond = stats.tail(xs)
    assert p == pct
    assert beyond >= stats.TAIL_BEYOND
    assert beyond == sum(x > value for x in xs)
    assert value == -(-round(pct * 10) * n // 1000)  # nearest rank of 1..n


def test_tail_needs_twenty_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 19)


def test_quantile_band_matches_rank_error():
    rng = np.random.default_rng(0)
    for n in (5, 37, 400):
        xs = np.sort(rng.integers(0, n // 2 + 2, n).astype(float))  # with ties
        for p in (0.01, 0.5, 0.95, 0.99):
            lo, hi = workloads.quantile_band(xs, p)
            eps = workloads.RANK_TOL + 1 / n
            for e in np.unique(np.concatenate([xs, xs + 0.5, xs - 0.5])):
                rank_lo = np.searchsorted(xs, e, "left") / n
                rank_hi = np.searchsorted(xs, e, "right") / n
                ok = max(0.0, rank_lo - p, p - rank_hi) <= eps + 1e-12
                assert ok == workloads._within(e, lo, hi), (n, p, e)


def test_metric_tables_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_status_store_readout_on_tiny_query(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    from tdigest_spark.spark.session import get_spark

    spark = get_spark("perfbench-test", cores=1, shuffle_partitions=2)
    try:
        tr = layers.Tracer()
        spark.sparkContext.setJobGroup("tiny", "tiny")
        start = time.time()
        # several input partitions, so the aggregate needs an exchange
        df = spark.range(0, 1000, 1, 4).selectExpr("id % 3 AS k")
        rows = df.groupBy("k").count().collect()
        c = layers.spark_counters(spark, "tiny", start, time.time(), tr)
    finally:
        spark.stop()
    assert sorted(r["count"] for r in rows) == [333, 333, 334]
    assert c["spark.jobs"] >= 1
    assert c["spark.stages"] >= 2  # partial aggregate, then the merge side
    assert c["spark.tasks"] >= c["spark.stages"]
    assert c["exchange.records"] > 0 and c["exchange.bytes"] > 0
    assert c["stage.partial_s"] > 0 and c["stage.merge_s"] > 0
    assert c["spark.driver_s"] >= 0
    assert [s["name"] for s in tr.spans].count("query") == 1
