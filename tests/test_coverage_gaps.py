"""Coverage for the remaining SURVEY §2 variants and cross-cutting
properties: array+count aggregate combinations, digest-input
percentile_of, trimmed sum aggregates, plan-shape assertions (column
pruning through the Arrow boundary), SQL registry, mixed-compression
re-aggregation sweep (combine.sql), and hypothesis property tests on
the kernel."""

import io
import contextlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tdigest_spark.kernel.tdigest import TDigest, tdigest_from_values
from tdigest_spark.spark.tdigest_agg import (
    tdigest,
    tdigest_avg_digests,
    tdigest_percentile,
    tdigest_percentile_of,
    tdigest_percentile_of_digests,
    tdigest_sum,
    tdigest_sum_digests,
)


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").cache()


def rank_of(xs, v):
    return float(np.searchsorted(xs, v, side="right")) / len(xs)


# ----------------------------------------------------------------------
# §2.1.1 #4/#6/#8: array-parameter variants with counts / hypotheticals
# ----------------------------------------------------------------------
def test_percentile_array_with_counts(lineitem):
    vc = lineitem.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("cnt")
    )
    res = tdigest_percentile(
        vc, "l_quantity", 100, [0.25, 0.5, 0.75], keys=["l_returnflag"],
        count_col="cnt",
    ).collect()
    pdf = lineitem.select("l_returnflag", "l_quantity").toPandas()
    for row in res:
        xs = np.sort(
            pdf[pdf["l_returnflag"] == row["l_returnflag"]]["l_quantity"].to_numpy()
        )
        for q, e in zip([0.25, 0.5, 0.75], row["percentile"]):
            assert abs(rank_of(xs, e) - q) < 0.035, (row["l_returnflag"], q)
        assert row["percentile"] == sorted(row["percentile"])


def test_percentile_of_array_and_counts(lineitem):
    probes = [10.0, 25.0, 40.0]
    vc = lineitem.groupBy("l_quantity").agg(F.count("*").alias("cnt"))
    res = tdigest_percentile_of(
        vc, "l_quantity", 100, probes, count_col="cnt"
    ).collect()[0]["percentile_of"]
    pdf = lineitem.select("l_quantity").toPandas()["l_quantity"].to_numpy()
    n = len(pdf)
    for p, e in zip(probes, res):
        exact = ((pdf < p).sum() + (pdf == p).sum() / 2.0) / n
        assert abs(e - exact) < 0.02, (p, e, exact)
    assert list(res) == sorted(res)


def test_percentile_of_digests(lineitem):
    dig = tdigest(lineitem, "l_extendedprice", 100, keys=["l_returnflag"])
    probe = 30000.0
    res = tdigest_percentile_of_digests(
        dig, "tdigest", probe, keys=["l_returnflag"]
    ).collect()
    pdf = lineitem.select("l_returnflag", "l_extendedprice").toPandas()
    for row in res:
        xs = pdf[pdf["l_returnflag"] == row["l_returnflag"]][
            "l_extendedprice"
        ].to_numpy()
        exact = (xs <= probe).mean()
        assert abs(row["percentile_of"] - exact) < 0.01


def test_trimmed_sum_aggregates(lineitem):
    est = tdigest_sum(
        lineitem, "l_extendedprice", 100, 0.25, 0.75, keys=["l_linestatus"]
    ).collect()
    pdf = lineitem.select("l_linestatus", "l_extendedprice").toPandas()
    for row in est:
        xs = np.sort(
            pdf[pdf["l_linestatus"] == row["l_linestatus"]][
                "l_extendedprice"
            ].to_numpy()
        )
        n = len(xs)
        exact = xs[int(np.floor(n * 0.25)) : int(np.ceil(n * 0.75))].sum()
        assert abs(row["sum"] - exact) / exact < 0.02
    # digest-input trimmed variants
    dig = tdigest(lineitem, "l_extendedprice", 100, keys=["l_linestatus"])
    s2 = {r["l_linestatus"]: r["sum"] for r in
          tdigest_sum_digests(dig, "tdigest", 0.25, 0.75, keys=["l_linestatus"]).collect()}
    a2 = {r["l_linestatus"]: r["avg"] for r in
          tdigest_avg_digests(dig, "tdigest", 0.25, 0.75, keys=["l_linestatus"]).collect()}
    for row in est:
        ls = row["l_linestatus"]
        assert s2[ls] == pytest.approx(row["sum"], rel=1e-9)
        assert a2[ls] > 0


# ----------------------------------------------------------------------
# plan shape: pruning must reach the scan through the Arrow boundary
# ----------------------------------------------------------------------
def test_scan_reads_only_needed_columns(spark, monkeypatch):
    # a cached full-width lineitem from another fixture would be
    # substituted for the fresh scan and hide the pruning
    from tdigest_spark.spark import arrow_agg

    spark.catalog.clearCache()
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")  # 11 columns

    # native-scan path: the pyarrow reader's column list must be pruned
    native = arrow_agg._native_parquet_splits(
        li, ["l_returnflag", "l_extendedprice"]
    )
    assert native is not None
    col_map = native[1]
    assert set(col_map) == {"l_returnflag", "l_extendedprice"}

    # Catalyst path (native scan off): pruning must reach ReadSchema
    monkeypatch.setattr(arrow_agg, "NATIVE_SCAN", False)
    q = tdigest_percentile(li, "l_extendedprice", 100, 0.5, keys=["l_returnflag"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    read = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "l_extendedprice" in read and "l_returnflag" in read
    assert "l_orderkey" not in read and "l_shipdate" not in read


def test_sketch_scan_ships_only_hash(spark):
    from tdigest_spark.spark.sketches import hll_count_distinct

    spark.catalog.clearCache()
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    q = hll_count_distinct(orders, "o_custkey", keys=["o_orderstatus"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    read = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "o_custkey" in read and "o_orderstatus" in read
    assert "o_totalprice" not in read and "o_orderdate" not in read


# ----------------------------------------------------------------------
# SQL registry
# ----------------------------------------------------------------------
def test_sql_registry_functions(spark, lineitem):
    from tdigest_spark.spark.sql_registry import register_sql_functions

    register_sql_functions(spark)
    dig = tdigest(lineitem, "l_extendedprice", 100, keys=["l_returnflag"])
    dig.createOrReplaceTempView("gap_digests")
    rows = spark.sql(
        """SELECT l_returnflag,
                  tdigest_count(tdigest) AS n,
                  tdigest_quantile(tdigest, 0.5) AS p50,
                  tdigest_quantile_of(tdigest, tdigest_quantile(tdigest, 0.5)) AS r,
                  tdigest_json(tdigest) LIKE '{"flags": 1%' AS json_ok
           FROM gap_digests"""
    ).collect()
    exact_n = {
        r["l_returnflag"]: r["c"]
        for r in lineitem.groupBy("l_returnflag").agg(F.count("*").alias("c")).collect()
    }
    for r in rows:
        assert r["n"] == exact_n[r["l_returnflag"]]
        assert abs(r["r"] - 0.5) < 0.01
        assert r["json_ok"]


# ----------------------------------------------------------------------
# combine.sql-style sweep: mixed compressions × sizes re-aggregated
# ----------------------------------------------------------------------
def test_mixed_compression_reaggregation_sweep(spark):
    """combine.sql:36-97 analog: digests of wildly different
    compressions (10..10000) and sizes merge legally and stay accurate."""
    import pandas as pd

    rng = np.random.RandomState(99)
    rows = []
    all_vals = []
    for i, (comp, n) in enumerate(
        [(10, 1000), (100, 10_000), (10_000, 3000), (50, 100), (1000, 30_000)]
    ):
        x = rng.rand(n) * 100
        all_vals.append(x)
        rows.append({"g": 1, "d": tdigest_from_values(x, comp).to_bytes()})
    df = spark.createDataFrame(pd.DataFrame(rows))
    res = tdigest_percentile_of_digests(df, "d", 50.0, keys=["g"]).collect()[0]
    allx = np.concatenate(all_vals)
    exact = (allx <= 50.0).mean()
    assert abs(res["percentile_of"] - exact) < 0.05  # coarsest c=10 dominates error


# ----------------------------------------------------------------------
# hypothesis property tests on the kernel
# ----------------------------------------------------------------------
@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=500,
    ),
    st.sampled_from([10, 47, 100, 731]),
)
def test_kernel_invariants_random(values, compression):
    d = tdigest_from_values(np.array(values), compression)
    means, counts = d.centroid_arrays()
    assert int(counts.sum()) == len(values)
    assert np.all(np.diff(means) >= 0)
    assert np.all(counts > 0)
    # roundtrip is byte-stable
    b = d.to_bytes()
    assert TDigest.from_bytes(b).to_bytes() == b
    # quantiles bounded by min/max and monotone
    qs = d.quantiles([0.0, 0.25, 0.5, 0.75, 1.0])
    assert qs[0] >= min(values) - 1e-9 and qs[-1] <= max(values) + 1e-9
    assert np.all(np.diff(qs) >= 0)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0, max_value=1e3, allow_nan=False),
        min_size=2,
        max_size=300,
    ),
    st.integers(min_value=2, max_value=5),
)
def test_kernel_merge_count_conservation(values, k):
    x = np.array(values)
    parts = [tdigest_from_values(x[i::k], 100) for i in range(k)]
    m = TDigest(100)
    for p in parts:
        if p.count:
            m.merge_digest(p)
    assert m.count == len(values)
    # rank of merged median stays within the coarse bound even for tiny n
    if len(values) >= 50:
        xs = np.sort(x)
        est = m.quantile(0.5)
        assert abs(rank_of(xs, est) - 0.5) <= 0.5 / np.sqrt(len(values)) + 0.15


def test_partial_compression_boost(spark):
    """partial_compression reduces merged-digest error toward the
    single-pass error while keeping the final compression."""
    import pandas as pd

    rng = np.random.RandomState(21)
    x = rng.rand(200_000)
    df = spark.createDataFrame(pd.DataFrame({"v": x})).repartition(16)
    plain = tdigest_percentile(df, "v", 100, [i / 20 for i in range(1, 20)])
    boosted = tdigest_percentile(
        df, "v", 100, [i / 20 for i in range(1, 20)], partial_compression=500
    )
    xs = np.sort(x)

    def rms(res):
        est = res.collect()[0]["percentile"]
        qs = [i / 20 for i in range(1, 20)]
        ranks = [np.searchsorted(xs, e, side="right") / len(xs) for e in est]
        return float(np.sqrt(np.mean([(r - q) ** 2 for r, q in zip(ranks, qs)])))

    e_plain, e_boost = rms(plain), rms(boosted)
    assert e_boost < e_plain * 0.75, (e_plain, e_boost)


def test_empty_input_semantics(spark):
    """SQL parity: ungrouped aggregate over zero rows yields one NULL
    row; grouped yields zero rows."""
    import pandas as pd

    empty = spark.createDataFrame(pd.DataFrame({"g": ["x"], "v": [1.0]})).filter(
        "v > 99"
    )
    ungrouped = tdigest_percentile(empty, "v", 100, 0.5).collect()
    assert len(ungrouped) == 1 and ungrouped[0]["percentile"] is None
    grouped = tdigest_percentile(empty, "v", 100, 0.5, keys=["g"]).collect()
    assert grouped == []
    from tdigest_spark.spark.sketches import hll_count_distinct

    hll_empty = hll_count_distinct(empty, "v").collect()
    assert len(hll_empty) == 1 and hll_empty[0]["approx_distinct"] == 0


def test_arrownp_conversions_match_pandas_fallback():
    """kernel/arrownp conversions must be value-identical to pyarrow's
    pandas-backed to_numpy(zero_copy_only=False) on every shape the
    folds see: nullable ints/floats, narrower types, decimals, sliced
    arrays, empties, and bit-packed booleans."""
    import numpy as np
    import pyarrow as pa

    from tdigest_spark.kernel.arrownp import arrow_bools, arrow_floats, arrow_ints

    # nullable int32 → int64 with fill
    a = pa.array([1, None, 3, None, 5], type=pa.int32())
    got = arrow_ints(a, fill=-1)
    assert got.dtype == np.int64 and got.tolist() == [1, -1, 3, -1, 5]

    # non-null int64 is exact above 2^53
    big = [2**62 + 1, 2**53 + 1, -(2**61) - 7]
    assert arrow_ints(pa.array(big, type=pa.int64())).tolist() == big

    # nullable float64 → NaN holes, matching the pandas route
    f = pa.array([1.5, None, float("nan"), 4.0])
    got = arrow_floats(f)
    want = f.to_numpy(zero_copy_only=False)
    assert got.dtype == np.float64
    assert np.array_equal(np.isnan(got), np.isnan(want))
    assert np.array_equal(got[~np.isnan(got)], want[~np.isnan(want)])

    # float32 / int / decimal inputs widen to float64
    assert arrow_floats(pa.array([1.5, 2.5], type=pa.float32())).tolist() == [1.5, 2.5]
    assert arrow_floats(pa.array([1, None], type=pa.int16())).tolist()[0] == 1.0
    import decimal

    d = pa.array([decimal.Decimal("12.34"), None], type=pa.decimal128(10, 2))
    got = arrow_floats(d)
    assert got[0] == 12.34 and np.isnan(got[1])

    # sliced arrays keep offsets straight
    s = pa.array([10, 20, None, 40, 50], type=pa.int64()).slice(1, 3)
    assert arrow_ints(s, fill=0).tolist() == [20, 0, 40]

    # empties
    assert arrow_ints(pa.array([], type=pa.int64())).size == 0
    assert arrow_floats(pa.array([], type=pa.float64())).size == 0

    # booleans (bit-packed → uint8 view)
    b = pa.array([True, False, True, True])
    got = arrow_bools(b)
    assert got.dtype == np.bool_ and got.tolist() == [True, False, True, True]


def test_warm_workers_counts_pool(spark):
    from tdigest_spark.spark.session import warm_workers

    n = warm_workers(spark, rounds=2)
    assert 1 <= n <= spark.sparkContext.defaultParallelism * 2


def test_warm_workers_installs_zipimport_hook(spark):
    """A warmed worker skips pyspark's per-task re-parse of its zip
    archives; the driver keeps the stdlib zipimport."""
    import zipimport

    from tdigest_spark.spark.session import warm_workers

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        reads = []
        stdlib_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return stdlib_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stdlib_read
        zips = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {
                "hook": [zipimport.zipimporter.invalidate_caches.__module__],
                "reads": [len(reads)],
                "zips": [zips],
            }
        )

    warm_workers(spark, rounds=1)
    schema = "hook string, reads long, zips long"
    row = spark.range(1).mapInArrow(probe, schema).collect()[0]
    assert row.hook == "tdigest_spark._worker"
    assert row.zips > 0  # the worker does import from zip archives
    assert row.reads == 0
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_lazy_package_namespace():
    """PEP 562 exports resolve and cache; unknown names raise."""
    import importlib

    import tdigest_spark

    assert callable(tdigest_spark.tdigest_percentile)
    assert "tdigest_percentile" in dir(tdigest_spark)
    try:
        tdigest_spark.no_such_symbol
        raise AssertionError("expected AttributeError")
    except AttributeError:
        pass
    importlib.reload(tdigest_spark)
