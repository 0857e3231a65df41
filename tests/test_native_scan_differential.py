"""Differential testing of the native parquet scan against the
Catalyst-planned path: for a grid of seeded-random simple predicates
over nullable data, grouped counts from the pyarrow reader must equal
Spark's exactly (null semantics included), and any predicate the
translator claims must produce identical row sets."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.spark import arrow_agg
from tdigest_spark.spark.tdigest_agg import tdigest_count_agg


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """Nullable mixed-type table written to parquet with several row
    groups (so stats pruning participates)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(7)
    n = 20_000
    k = rng.choice(["a", "b", "c", "d"], size=n).astype(object)
    k[rng.rand(n) < 0.05] = None
    x = np.round(rng.randn(n) * 50, 2)
    xs = x.astype(object)
    xs[rng.rand(n) < 0.05] = None
    i64 = rng.randint(0, 1000, size=n).astype(object)
    i64[rng.rand(n) < 0.05] = None
    v = rng.rand(n)
    path = str(tmp_path_factory.mktemp("diff") / "t.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array(list(k), type=pa.string()),
                "x": pa.array(list(xs), type=pa.float64()),
                "i": pa.array(list(i64), type=pa.int64()),
                "v": pa.array(v),
            }
        ),
        path,
        row_group_size=2_500,
    )
    return spark.read.parquet(path)


def _predicates():
    c = F.col
    return [
        c("x") > 10.0,
        c("x") <= -25.0,
        (c("x") > -10.0) & (c("x") < 10.0),
        (c("x") > 60.0) | (c("i") < 50),
        ~(c("k") == "a"),
        ~c("k").isin("a", "b"),
        c("k").isin("a", "c"),
        c("k").isNull(),
        c("k").isNotNull() & (c("i") >= 900),
        (c("i") == 13) | c("x").isNull(),
        ~((c("x") > 0.0) | (c("i") > 500)),
        (c("k") == "b") & ~(c("i").isin(1, 2, 3)),
        F.lit(5.0) < c("x"),  # literal-on-the-left normalization
        (c("x") >= 49.99) & (c("x") <= 50.01),
    ]


def test_filtered_grouped_counts_match_catalyst(spark, table):
    for idx, pred in enumerate(_predicates()):
        flt = table.filter(pred).select("k", "v")
        native = arrow_agg._native_parquet_splits(flt, ["k", "v"])
        assert native is not None, f"predicate #{idx} unexpectedly fell back"
        got = {
            r["k"]: r["count"]
            for r in tdigest_count_agg(flt, "v", 100, keys=["k"]).collect()
        }
        assert arrow_agg.NATIVE_SCAN  # sanity: fast path active
        want = {
            r["k"]: r["n"]
            for r in flt.groupBy("k").agg(F.count("*").alias("n")).collect()
        }
        assert got == want, f"predicate #{idx}: {got} != {want}"


def test_null_group_keys_native_scan(spark, table):
    """NULL group keys survive the native path (dictionary code shift)
    with the same group counts as Catalyst's GROUP BY."""
    sel = table.select("k", "v")
    assert arrow_agg._native_parquet_splits(sel, ["k", "v"]) is not None
    got = {
        r["k"]: r["count"]
        for r in tdigest_count_agg(sel, "v", 100, keys=["k"]).collect()
    }
    want = {
        r["k"]: r["n"]
        for r in sel.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and None in got


def test_timestamp_group_key_falls_back_and_matches(spark, tmp_path_factory):
    """Timestamp data columns must NOT take the native path: pyarrow
    yields naive UTC wall times and createDataFrame re-localizes them in
    the session timezone, which would shift key instants under a
    non-UTC session.  The translator declines, and the (Catalyst-
    planned) grouped counts match Spark's GROUP BY under a non-UTC
    session timezone."""
    path = str(tmp_path_factory.mktemp("ts_tbl") / "t.parquet")
    base = spark.range(0, 5000).select(
        F.timestamp_seconds(F.lit(1_700_000_000) + (F.col("id") % 4) * 86400).alias(
            "ts"
        ),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    base.write.mode("overwrite").parquet(path)
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        tbl = spark.read.parquet(path).select("ts", "v")
        assert arrow_agg._native_parquet_splits(tbl, ["ts", "v"]) is None
        got = {
            r["ts"]: r["count"]
            for r in tdigest_count_agg(tbl, "v", 100, keys=["ts"]).collect()
        }
        want = {
            r["ts"]: r["n"]
            for r in tbl.groupBy("ts").agg(F.count("*").alias("n")).collect()
        }
        assert got == want and len(got) == 4
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_piece_cache_keys_on_full_signature(spark, table):
    """The split-plan memo keys on the full file-signature tuple, not a
    collapsible 64-bit hash (a collision would serve a wrong plan)."""
    sel = table.select("k", "v")
    arrow_agg._PIECE_CACHE.clear()
    assert arrow_agg._native_parquet_splits(sel, ["k", "v"]) is not None
    for key in arrow_agg._PIECE_CACHE:
        sig_part = key[0]
        assert isinstance(sig_part, tuple) and all(
            isinstance(s, tuple) and isinstance(s[0], str) for s in sig_part
        )


def test_random_conjunction_grid_matches(spark, table):
    """Seeded random AND/OR trees of atomic predicates: identical
    filtered totals on both paths."""
    rng = np.random.RandomState(42)
    atoms = _predicates()
    for trial in range(10):
        a, b, cpred = (atoms[i] for i in rng.randint(0, len(atoms), 3))
        pred = (a & b) | cpred if trial % 2 else a & (b | cpred)
        flt = table.filter(pred).select("k", "v")
        if arrow_agg._native_parquet_splits(flt, ["k", "v"]) is None:
            continue  # translator declined — Catalyst handles it
        got = sum(
            r["count"]
            for r in tdigest_count_agg(flt, "v", 100, keys=["k"]).collect()
        )
        want = flt.count()
        assert got == want, f"trial {trial}"


def test_schema_evolved_table_falls_back_and_matches(spark, tmp_path_factory):
    """A table where older files lack a newer column must NOT take the
    native path (pyarrow's get_field_index would wrap -1 to the last
    column, silently folding the wrong data); the Catalyst fallback
    null-fills and the aggregate matches GROUP BY counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("evolved")
    pq.write_table(
        pa.table({"k": ["a", "a", "b"], "v": [1.0, 2.0, 3.0]}),
        str(d / "old.parquet"),
    )
    pq.write_table(
        pa.table(
            {"k": ["a", "b"], "v": [4.0, 5.0], "w": [10.0, 20.0]}
        ),
        str(d / "new.parquet"),
    )
    tbl = spark.read.option("mergeSchema", "true").parquet(str(d)).select("k", "w")
    assert arrow_agg._native_parquet_splits(tbl, ["k", "w"]) is None
    got = {
        r["k"]: r["count"]
        for r in tdigest_count_agg(tbl, "w", 100, keys=["k"]).collect()
    }
    # nulls from the old file are dropped by the digest fold: one w per key
    assert got == {"a": 1, "b": 1}


def test_float_in_negative_zero_matches_catalyst(spark, tmp_path_factory):
    """Pushed-down IN over doubles must treat -0.0 == 0.0 like Spark
    (Arrow's hash-based is_in distinguishes them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("negzero") / "t.parquet")
    pq.write_table(
        pa.table({"k": ["a", "a", "a", "b"], "x": [-0.0, 0.0, 1.0, 5.0]}), path
    )
    tbl = spark.read.parquet(path).filter(F.col("x").isin(0.0, 5.0)).select("k", "x")
    assert arrow_agg._native_parquet_splits(tbl, ["k", "x"]) is not None
    got = {
        r["k"]: r["count"]
        for r in tdigest_count_agg(tbl, "x", 100, keys=["k"]).collect()
    }
    want = {
        r["k"]: r["n"]
        for r in tbl.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert got == want == {"a": 2, "b": 1}


def test_group_slices_empty_batch_and_radix_overflow(monkeypatch):
    """_group_slices: a 0-row keyed batch yields no groups (was an
    IndexError), and the lexsort fallback for radix-overflowing key
    widths produces exactly the packed-radix groups."""
    import pyarrow as pa

    empty = pa.record_batch({"k": pa.array([], pa.string()), "v": pa.array([], pa.float64())})
    assert list(arrow_agg._group_slices(empty, ["k"])) == []
    assert next(iter(arrow_agg._group_slices(empty, [])))[0] == (0,)

    rng = np.random.RandomState(11)
    batch = pa.record_batch(
        {
            "a": pa.array(rng.choice(["x", "y", None], 500).tolist()),
            "b": pa.array(rng.randint(0, 7, 500)),
            "c": pa.array(rng.choice([1.5, 2.5, None], 500).tolist()),
        }
    )
    def norm(slices):
        return sorted(
            ((key, rows.tolist()) for key, rows in slices),
            key=repr,  # keys may contain None
        )
    radix = norm(arrow_agg._group_slices(batch, ["a", "b", "c"]))
    monkeypatch.setattr(arrow_agg, "_RADIX_MAX", 2)
    lex = norm(arrow_agg._group_slices(batch, ["a", "b", "c"]))
    assert lex == radix and len(radix) > 10


def test_multikey_grouped_counts_match_catalyst(spark, tmp_path_factory):
    """3-key grouping (nullable string + int + float keys) through the
    native scan's packed-radix grouping must match Catalyst GROUP BY
    exactly — including NULL key combinations."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(23)
    n = 30_000
    a = rng.choice(["x", "y", "z", None], n).tolist()
    b = [None if rng.rand() < 0.04 else int(v) for v in rng.randint(0, 9, n)]
    c = [None if rng.rand() < 0.04 else float(v) for v in rng.choice([1.5, 2.5, 3.5], n)]
    path = str(tmp_path_factory.mktemp("mk") / "t.parquet")
    pq.write_table(
        pa.table(
            {
                "a": pa.array(a, pa.string()),
                "b": pa.array(b, pa.int64()),
                "c": pa.array(c, pa.float64()),
                "v": pa.array(rng.rand(n)),
            }
        ),
        path,
        row_group_size=4_000,
    )
    tbl = spark.read.parquet(path)
    assert arrow_agg._native_parquet_splits(tbl, ["a", "b", "c", "v"]) is not None
    got = {
        (r["a"], r["b"], r["c"]): r["count"]
        for r in tdigest_count_agg(tbl, "v", 100, keys=["a", "b", "c"]).collect()
    }
    want = {
        (r["a"], r["b"], r["c"]): r["n"]
        for r in tbl.groupBy("a", "b", "c").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    assert any(k[0] is None for k in got)  # null keys exercised


def test_partition_value_ignores_partition_like_ancestor(spark, tmp_path_factory):
    """A table stored under an ancestor directory named like a partition
    (``.../x=9/tbl/x=1/p.parquet``) takes its partition values from the
    deepest ``x=`` directory, as Spark's partition discovery does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = tmp_path_factory.mktemp("anc") / "x=9" / "tbl"
    for x, n in ((1, 10), (2, 20)):
        d = tbl / f"x={x}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"v": np.arange(float(n))}), str(d / "p.parquet"))
    df = spark.read.parquet(str(tbl))
    assert arrow_agg._native_parquet_splits(df, ["x", "v"]) is not None
    got = sorted(tuple(r) for r in tdigest_count_agg(df, "v", 100, keys=["x"]).collect())
    want = sorted(tuple(r) for r in df.groupBy("x").count().collect())
    assert got == want == [(1, 10), (2, 20)]
