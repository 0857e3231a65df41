"""End-to-end Spark tests for the t-digest aggregates.

Mirrors the reference's parallel_query.sql pattern: the same aggregate
must produce in-tolerance results through the partial→merge pipeline
regardless of partitioning, and pre-aggregated digest tables must
re-aggregate to the same answers.
"""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tdigest_spark.kernel.tdigest import TDigest
from tdigest_spark.spark import functions as TF
from tdigest_spark.spark.tdigest_agg import (
    tdigest,
    tdigest_avg,
    tdigest_count_agg,
    tdigest_percentile,
    tdigest_percentile_digests,
    tdigest_union_agg,
)

PS = [0.01, 0.1, 0.5, 0.9, 0.95, 0.99]


@pytest.fixture(scope="module")
def lineitem(spark):
    df = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
    return df.select("l_returnflag", "l_extendedprice").cache()


@pytest.fixture(scope="module")
def exact(lineitem):
    pdf = lineitem.toPandas()
    return {
        flag: np.sort(sub["l_extendedprice"].to_numpy())
        for flag, sub in pdf.groupby("l_returnflag")
    }


def rank_of(sorted_x, v):
    return float(np.searchsorted(sorted_x, v, side="right")) / len(sorted_x)


def test_grouped_percentile_within_bound(lineitem, exact):
    res = tdigest_percentile(
        lineitem, "l_extendedprice", 100, 0.95, keys=["l_returnflag"]
    ).collect()
    assert len(res) == len(exact)
    for row in res:
        err = abs(rank_of(exact[row["l_returnflag"]], row["percentile"]) - 0.95)
        assert err < 0.01, row


def test_grouped_percentile_array_monotonic(lineitem, exact):
    qs = [i / 100 for i in range(1, 100)]
    res = tdigest_percentile(
        lineitem, "l_extendedprice", 100, qs, keys=["l_returnflag"]
    ).collect()
    for row in res:
        v = np.array(row["percentile"])
        assert np.all(np.diff(v) >= 0)
        xs = exact[row["l_returnflag"]]
        errs = [abs(rank_of(xs, e) - q) for q, e in zip(qs, v)]
        assert max(errs) < 0.01


def test_global_percentile(lineitem, exact):
    res = tdigest_percentile(lineitem, "l_extendedprice", 100, PS).collect()
    assert len(res) == 1
    allx = np.sort(np.concatenate(list(exact.values())))
    for q, e in zip(PS, res[0]["percentile"]):
        assert abs(rank_of(allx, e) - q) < 0.01


def test_partitioning_invariance(lineitem, exact):
    """parallel_query.sql equivalence: results in-bound for any split."""
    for k in (1, 7):
        res = tdigest_percentile(
            lineitem.repartition(k), "l_extendedprice", 100, 0.5, keys=["l_returnflag"]
        ).collect()
        for row in res:
            err = abs(rank_of(exact[row["l_returnflag"]], row["percentile"]) - 0.5)
            assert err < 0.01, (k, row)


def test_salted_merge_matches_unsalted(lineitem, exact):
    res = tdigest_percentile(
        lineitem, "l_extendedprice", 100, 0.9, keys=["l_returnflag"], salt=4
    ).collect()
    for row in res:
        err = abs(rank_of(exact[row["l_returnflag"]], row["percentile"]) - 0.9)
        assert err < 0.01, row


def test_preaggregate_then_reaggregate(lineitem, exact, spark):
    """README.md:104-133 flagship pattern: digest table → re-aggregate."""
    dig = tdigest(lineitem, "l_extendedprice", 100, keys=["l_returnflag"])
    assert dig.count() == len(exact)
    # per-group query over stored digests
    per_group = tdigest_percentile_digests(
        dig, "tdigest", 0.95, keys=["l_returnflag"]
    ).collect()
    for row in per_group:
        err = abs(rank_of(exact[row["l_returnflag"]], row["percentile"]) - 0.95)
        assert err < 0.01
    # global rollup across groups — digests compose
    global_est = tdigest_percentile_digests(dig, "tdigest", 0.5).collect()[0]
    allx = np.sort(np.concatenate(list(exact.values())))
    assert abs(rank_of(allx, global_est["percentile"]) - 0.5) < 0.01
    # union aggregate preserves total count
    uni = tdigest_union_agg(dig, "tdigest").collect()[0]
    assert TDigest.from_bytes(bytes(uni["tdigest"])).count == len(allx)


def test_value_count_ingestion(spark, lineitem, exact):
    """(value,count) API: pre-aggregated input == expanded input
    (value_count_api.sql:143-251)."""
    vc = lineitem.groupBy("l_returnflag", "l_extendedprice").count()
    res = tdigest_percentile(
        vc,
        "l_extendedprice",
        100,
        0.5,
        keys=["l_returnflag"],
        count_col="count",
    ).collect()
    for row in res:
        err = abs(rank_of(exact[row["l_returnflag"]], row["percentile"]) - 0.5)
        assert err < 0.015, row


def test_trimmed_avg_vs_exact(lineitem, exact):
    res = tdigest_avg(
        lineitem, "l_extendedprice", 100, 0.1, 0.9, keys=["l_returnflag"]
    ).collect()
    for row in res:
        xs = exact[row["l_returnflag"]]
        n = len(xs)
        ex = xs[int(np.floor(n * 0.1)) : int(np.ceil(n * 0.9))].mean()
        assert abs(row["avg"] - ex) / abs(ex) < 0.01, row


def test_count_agg(lineitem, exact):
    res = tdigest_count_agg(
        lineitem, "l_extendedprice", 100, keys=["l_returnflag"]
    ).collect()
    for row in res:
        assert row["count"] == len(exact[row["l_returnflag"]])


def test_scalar_functions(spark, lineitem, exact):
    dig = tdigest(lineitem, "l_extendedprice", 100, keys=["l_returnflag"]).cache()
    row = (
        dig.select(
            "l_returnflag",
            TF.tdigest_count("tdigest").alias("cnt"),
            TF.tdigest_quantile("tdigest", 0.5).alias("p50"),
            TF.tdigest_json("tdigest").alias("js"),
            TF.tdigest_double_array("tdigest").alias("arr"),
            TF.tdigest_to_string("tdigest").alias("txt"),
            TF.tdigest_digest_avg("tdigest", 0.25, 0.75).alias("iqm"),
        )
        .collect()[0]
    )
    xs = exact[row["l_returnflag"]]
    assert row["cnt"] == len(xs)
    assert abs(rank_of(xs, row["p50"]) - 0.5) < 0.01
    assert row["js"].startswith('{"flags": 1,')
    assert row["arr"][0] == 1.0 and int(row["arr"][1]) == len(xs)
    assert row["txt"].startswith("flags 1 count")
    lo, hi = int(np.floor(len(xs) * 0.25)), int(np.ceil(len(xs) * 0.75))
    assert abs(row["iqm"] - xs[lo:hi].mean()) / xs[lo:hi].mean() < 0.02
    # text roundtrip through tdigest_parse
    rt = dig.select(
        TF.tdigest_count(TF.tdigest_parse(TF.tdigest_to_string("tdigest"))).alias("c2"),
        TF.tdigest_count("tdigest").alias("c1"),
    ).collect()
    for r in rt:
        assert r["c1"] == r["c2"]


def test_tdigest_union_scalar(spark):
    x = np.arange(1.0, 1001.0)
    d1 = TDigest(100)
    d1.add_values(x[:500])
    d2 = TDigest(100)
    d2.add_values(x[500:])
    df = spark.createDataFrame(
        pd.DataFrame({"d1": [d1.to_bytes(), None], "d2": [d2.to_bytes(), d2.to_bytes()]})
    )
    res = df.select(TF.tdigest_count(TF.tdigest_union("d1", "d2")).alias("n")).collect()
    assert res[0]["n"] == 1000  # merged
    assert res[1]["n"] == 500  # NULL-tolerant: returns the other side


def test_tdigest_add_incremental(spark):
    df = spark.createDataFrame(pd.DataFrame({"d": [None], "v": [[1.0, 2.0, 3.0]]}))
    res = df.select(
        TF.tdigest_count(TF.tdigest_add("d", "v", compression=100)).alias("n")
    ).collect()
    assert res[0]["n"] == 3


def test_nulls_and_empty_groups(spark):
    pdf = pd.DataFrame(
        {
            "g": ["a"] * 10 + ["b"] * 5,
            "v": [float(i) for i in range(10)] + [None] * 5,
        }
    )
    df = spark.createDataFrame(pdf)
    res = {
        r["g"]: r["percentile"]
        for r in tdigest_percentile(df, "v", 100, 0.5, keys=["g"]).collect()
    }
    assert res["a"] == pytest.approx(4.5, abs=1.0)
    assert res["b"] is None  # all-NULL group → NULL (tdigest.c:998-1005)


def test_tdigest_rollup_grouping_sets(spark):
    """tdigest_rollup: one scan, digests at every ROLLUP grain; counts
    match GROUP BY ROLLUP exactly and estimates stay in-bound."""
    from tdigest_spark.spark import functions as TF
    from tdigest_spark.spark.tdigest_agg import tdigest_rollup

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    rolled = tdigest_rollup(
        li, "l_extendedprice", 100, keys=["l_returnflag", "l_linestatus"]
    )
    got = {
        (r["l_returnflag"], r["l_linestatus"]): r["n"]
        for r in rolled.select(
            "l_returnflag", "l_linestatus", TF.tdigest_count("tdigest").alias("n")
        ).collect()
    }
    want = {
        (r["l_returnflag"], r["l_linestatus"]): r["n"]
        for r in li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    # explicit grouping sets subset
    sets = tdigest_rollup(
        li,
        "l_extendedprice",
        100,
        keys=["l_returnflag", "l_linestatus"],
        grouping_sets=[["l_linestatus"], []],
    )
    per_status = {
        r["l_linestatus"]: r["n"]
        for r in sets.filter(F.col("l_linestatus").isNotNull())
        .select("l_linestatus", TF.tdigest_count("tdigest").alias("n"))
        .collect()
    }
    want_status = {
        r["l_linestatus"]: r["n"]
        for r in li.groupBy("l_linestatus").agg(F.count("*").alias("n")).collect()
    }
    assert per_status == want_status


def test_sql_null_numeric_args_are_null_not_nan(spark):
    """SQL NULL numeric args reach pandas UDFs as NaN (Arrow float64
    coercion) — the scalar functions must treat them as NULL: STRICT
    NULL-out for quantile/quantile_of, passthrough for tdigest_add."""
    from tdigest_spark.spark.sql_registry import register_sql_functions
    from tdigest_spark.spark.tdigest_agg import tdigest

    register_sql_functions(spark)
    dig = tdigest(
        spark.range(1000).select((F.col("id") % 97).cast("double").alias("v")),
        "v", 100,
    )
    dig.createOrReplaceTempView("nulltest_digest")
    row = spark.sql(
        """
        SELECT tdigest_quantile(tdigest, CAST(NULL AS DOUBLE)) AS q,
               tdigest_quantile_of(tdigest, CAST(NULL AS DOUBLE)) AS qo,
               tdigest_count(
                   tdigest_add(tdigest, CAST(NULL AS DOUBLE),
                               CAST(NULL AS INT), true)) AS n_after_null_add,
               tdigest_add(CAST(NULL AS BINARY), CAST(NULL AS DOUBLE),
                           CAST(NULL AS INT), true) AS null_null
        FROM nulltest_digest
        """
    ).collect()[0]
    assert row["q"] is None and row["qo"] is None
    assert row["n_after_null_add"] == 1000  # digest unchanged
    assert row["null_null"] is None


def test_dataframe_tdigest_add_null_value_passthrough(spark):
    from tdigest_spark.spark import functions as TF
    from tdigest_spark.spark.tdigest_agg import tdigest

    dig = tdigest(
        spark.range(100).select(F.col("id").cast("double").alias("v")), "v", 100
    )
    out = dig.select(
        TF.tdigest_count(
            TF.tdigest_add(F.col("tdigest"), F.lit(None).cast("double"))
        ).alias("n")
    ).collect()[0]
    assert out["n"] == 100


def test_sql_grouped_aggregates(spark):
    """GROUP BY-callable aggregate forms: exact counts, NULL/NaN values
    skipped, all-null group yields NULL, SQL union preserves count."""
    from tdigest_spark.spark.sql_registry import (
        register_sql_aggregates,
        register_sql_functions,
    )

    register_sql_functions(spark)
    register_sql_aggregates(spark)
    rows = [(i % 3, float(i % 101)) for i in range(3000)]
    rows += [(9, None), (9, None)]  # all-null group
    spark.createDataFrame(rows, ["a", "c"]).createOrReplaceTempView("sqlagg_t")
    got = {
        r["a"]: (r["n"], r["p50"])
        for r in spark.sql(
            """
            SELECT a, tdigest_count(tdigest_agg(c, 100)) AS n,
                   tdigest_percentile_agg(c, 100, 0.5) AS p50
            FROM sqlagg_t GROUP BY a
            """
        ).collect()
    }
    for g in (0, 1, 2):
        assert got[g][0] == 1000
        assert abs(got[g][1] - 50.0) < 3.0
    assert got[9] == (None, None)
    un = spark.sql(
        "SELECT tdigest_count(tdigest_union_agg(d)) AS n FROM"
        " (SELECT a, tdigest_agg(c, 100) AS d FROM sqlagg_t GROUP BY a)"
    ).collect()[0]["n"]
    assert un == 3000
    pof = spark.sql(
        "SELECT tdigest_percentile_of_agg(c, 100, 50.0) AS r FROM sqlagg_t"
    ).collect()[0]["r"]
    assert abs(pof - 0.5) < 0.03
    edges = spark.sql(
        "SELECT tdigest_histogram(tdigest_agg(c, 100), 4) AS e FROM sqlagg_t"
    ).collect()[0]["e"]
    assert len(edges) == 5 and edges == sorted(edges)
    assert edges[0] == 0.0 and edges[-1] == 100.0  # exact min/max ends
    # companion sketch SQL aggregates over the shared xxhash64 family
    row = spark.sql(
        """
        SELECT hll_cardinality(hll_agg(xxhash64(c))) AS nd,
               kll_n(kll_agg(c, 200)) AS kn,
               bloom_fill_ratio(bloom_agg(xxhash64(c), 65536, 5)) AS fr,
               countmin_total(countmin_agg(xxhash64(c))) AS ct
        FROM sqlagg_t WHERE c IS NOT NULL
        """
    ).collect()[0]
    assert abs(row["nd"] - 101) <= 3  # 101 distinct values, HLL p=14
    assert row["kn"] == 3000 and row["ct"] == 3000
    assert 0.0 < row["fr"] < 0.1
