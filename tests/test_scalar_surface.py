"""The scalar sketch functions on both surfaces: every entry of
``functions.SCALARS`` called as a DataFrame function and through its
SQL name gives equal values (equal bytes for binary results) over
sketch columns with NULL rows, NULL arguments give NULL, the defaulted
forms work in SQL, and a NaN argument is a value, not NULL."""

import re

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tdigest_spark.kernel.bloom import Bloom
from tdigest_spark.kernel.countmin import CountMin
from tdigest_spark.kernel.hll import HLL
from tdigest_spark.kernel.kll import KLL
from tdigest_spark.kernel.tdigest import TDigest
from tdigest_spark.spark import functions as TF
from tdigest_spark.spark.sql_registry import register_sql_functions

_VIEW = "scalar_surface"


@pytest.fixture(scope="module")
def sketches(spark):
    """Five groups of sketches of every family, then two rows whose
    sketches are all NULL; ``v``, ``vs``, ``x`` and ``t`` carry NULLs
    on other rows, so NULL sketches and NULL arguments both occur."""
    rng = np.random.default_rng(14)
    groups = [rng.normal(10.0 * g, 3.0, 300 + 97 * g) for g in range(5)]
    ints = spark.createDataFrame(
        [(g, int(x)) for g, v in enumerate(groups) for x in np.round(v)], "g long, x long"
    ).select("g", F.xxhash64("x").alias("h")).collect()
    rows = []
    for g, vals in enumerate(groups):
        hashes = np.array([r["h"] for r in ints if r["g"] == g], dtype=np.int64)
        d, d2 = TDigest(100), TDigest(50 + 25 * g)
        d.add_values(vals)
        d2.add_values(vals[::3] + 1.0)
        hll, cm, kll, bloom = HLL(10), CountMin(256, 4), KLL(64), Bloom(1 << 12, 3)
        for s in (hll, cm, bloom):
            s.add_hashes(hashes)
        kll.add_values(vals)
        rows.append((
            g, d.to_bytes(), None if g == 3 else d2.to_bytes(), d.to_string(),
            hll.to_bytes(), cm.to_bytes(), kll.to_bytes(), bloom.to_bytes(),
            None if g == 1 else float(g), None if g == 2 else [0.5 * g, -1.0, 7.25],
            None if g == 4 else int(np.round(vals[0])),
        ))
    # NULL sketches; a NULL digest plus a value needs a compression
    rows += [(g, *[None] * 7, None, [1.0], 3) for g in (5, 6)]
    schema = StructType([
        StructField("g", LongType()),
        *(StructField(c, BinaryType()) for c in ("d", "d2")),
        StructField("t", StringType()),
        *(StructField(c, BinaryType()) for c in ("hll", "cm", "kll", "bloom")),
        StructField("v", DoubleType()),
        StructField("vs", ArrayType(DoubleType())),
        StructField("x", LongType()),
    ])
    df = spark.createDataFrame(rows, schema).cache()
    df.createOrReplaceTempView(_VIEW)
    register_sql_functions(spark)
    return df


_PROBE = "if(x IS NULL, NULL, xxhash64(x))"  # the DataFrame form's hash


class _Col(str):
    """A column argument, made a ``Column`` once a session exists."""

# (function, sketch column, DataFrame arguments after it, SQL call)
CASES = [
    ("tdigest_count", "d", (), "tdigest_count(d)"),
    ("tdigest_quantile", "d", (0.9,), "tdigest_quantile(d, 0.9)"),
    ("tdigest_quantile_of", "d", (11.5,), "tdigest_quantile_of(d, 11.5)"),
    ("tdigest_add", "d", (_Col("v"),), "tdigest_add(d, v)"),
    ("tdigest_add", "d", (_Col("vs"), 100, False), "tdigest_add(d, vs, 100, false)"),
    ("tdigest_add", "d", (_Col("v"), 200), "tdigest_add_array(d, v, 200)"),
    ("tdigest_union", "d", (_Col("d2"),), "tdigest_union(d, d2)"),
    ("tdigest_union", "d", (_Col("d2"), False), "tdigest_union(d, d2, false)"),
    ("tdigest_json", "d", (), "tdigest_json(d)"),
    ("tdigest_double_array", "d", (), "tdigest_double_array(d)"),
    ("tdigest_digest_sum", "d", (), "tdigest_digest_sum(d)"),
    ("tdigest_digest_sum", "d", (0.1, 0.9), "tdigest_digest_sum(d, 0.1, 0.9)"),
    ("tdigest_digest_avg", "d", (), "tdigest_digest_avg(d)"),
    ("tdigest_digest_avg", "d", (0.25, 0.75), "tdigest_digest_avg(d, 0.25, 0.75)"),
    ("tdigest_histogram", "d", (4,), "tdigest_histogram(d, 4)"),
    ("tdigest_to_string", "d", (), "tdigest_to_string(d)"),
    ("tdigest_parse", "t", (), "tdigest_parse(t)"),
    ("hll_cardinality", "hll", (), "hll_cardinality(hll)"),
    ("countmin_total", "cm", (), "countmin_total(cm)"),
    ("countmin_estimate", "cm", (_Col("x"),), f"countmin_estimate(cm, {_PROBE})"),
    ("kll_n", "kll", (), "kll_n(kll)"),
    ("kll_rank", "kll", (12.0,), "kll_rank(kll, 12.0)"),
    ("kll_quantile_of_sketch", "kll", (0.5,), "kll_quantile_of_sketch(kll, 0.5)"),
    ("bloom_fill_ratio", "bloom", (), "bloom_fill_ratio(bloom)"),
    ("bloom_might_contain", "bloom", (_Col("x"),), f"bloom_might_contain(bloom, {_PROBE})"),
]


def test_cases_cover_every_table_entry():
    assert {name for name, *_ in CASES} == set(TF.SCALARS)


def _rows(df):
    return [tuple(r) for r in df.orderBy("g").collect()]


@pytest.mark.parametrize(
    "name, col, args, sql", CASES, ids=[sql.replace(_PROBE, "h") for *_, sql in CASES]
)
def test_surfaces_agree(spark, sketches, name, col, args, sql):
    args = [F.col(a) if isinstance(a, _Col) else a for a in args]
    frame = _rows(sketches.select("g", getattr(TF, name)(col, *args).alias("r")))
    query = _rows(spark.sql(f"SELECT g, {sql} AS r FROM {_VIEW}"))
    assert frame == query
    assert all(isinstance(r, (bytes, bytearray)) for _, r in frame if r is not None) == (
        TF.SCALARS[name].ret == BinaryType()
    )
    if TF.SCALARS[name].strict:
        # a NULL sketch gives NULL; every sketch present gives a value
        assert [r is None for g, r in frame if g >= 5] == [True, True]
        assert any(r is not None for _, r in frame)


def test_sketch_functions_re_exported():
    from tdigest_spark.spark import sketches as SK

    for name in TF.SCALARS:
        if not name.startswith("tdigest_"):
            assert getattr(SK, name) is getattr(TF, name)


@pytest.mark.parametrize("call", [
    "tdigest_quantile(d, CAST(NULL AS DOUBLE))",
    "tdigest_quantile_of(d, CAST(NULL AS DOUBLE))",
    "tdigest_digest_sum(d, NULL, 0.9)",
    "tdigest_digest_avg(d, 0.1, CAST(NULL AS DOUBLE))",
    "tdigest_histogram(d, CAST(NULL AS INT))",
    "countmin_estimate(cm, CAST(NULL AS BIGINT))",
    "kll_rank(kll, CAST(NULL AS DOUBLE))",
    "kll_quantile_of_sketch(kll, CAST(NULL AS DOUBLE))",
    "bloom_might_contain(bloom, CAST(NULL AS BIGINT))",
])
def test_null_argument_gives_null(spark, sketches, call):
    got = spark.sql(f"SELECT {call} AS r FROM {_VIEW}").collect()
    assert len(got) == 7 and all(r["r"] is None for r in got)


def test_null_probe_gives_null(sketches):
    got = {
        r["g"]: (r["e"], r["m"])
        for r in sketches.select(
            "g", TF.countmin_estimate("cm", F.col("x")).alias("e"),
            TF.bloom_might_contain("bloom", F.col("x")).alias("m"),
        ).collect()
    }
    assert got[4] == (None, None)
    assert got[0][0] >= 1 and got[0][1] is True  # no false negatives


def test_defaults_equal_explicit_forms(spark, sketches):
    row = spark.sql(
        f"""SELECT collect_list(tdigest_digest_sum(d) = tdigest_digest_sum(d, 0, 1)) AS s,
                   collect_list(tdigest_add(d, v) = tdigest_add(d, v, NULL, true)) AS a,
                   collect_list(tdigest_union(d, d2) = tdigest_union(d, d2, true)) AS u
            FROM {_VIEW} WHERE d IS NOT NULL AND v IS NOT NULL"""
    ).collect()[0]
    assert row["s"] and all(row["s"]) and all(row["a"]) and all(row["u"])


def test_histogram_rejects_k_below_one(spark, sketches):
    for k in (0, -1):
        with pytest.raises(PythonException, match="ValueError: tdigest_histogram: k must be >= 1"):
            sketches.select(TF.tdigest_histogram("d", k)).collect()
        with pytest.raises(PythonException, match="ValueError: tdigest_histogram: k must be >= 1"):
            spark.sql(f"SELECT tdigest_histogram(d, {k}) FROM {_VIEW}").collect()


def test_nan_quantile_raises_like_the_aggregate(spark, sketches):
    """A NaN quantile is a value, not NULL: it fails the percentile
    check, with the message the DataFrame aggregate gives for it."""
    from tdigest_spark.spark.tdigest_agg import tdigest_percentile

    with pytest.raises(ValueError) as agg:
        tdigest_percentile(
            spark.range(10).select(F.col("id").cast("double").alias("v")), "v", 100,
            float("nan"),
        ).collect()
    msg = str(agg.value)
    assert "percentile" in msg
    with pytest.raises(PythonException, match="ValueError: " + re.escape(msg)):
        spark.sql(
            f"SELECT tdigest_quantile(d, CAST('NaN' AS DOUBLE)) FROM {_VIEW}"
        ).collect()
    with pytest.raises(PythonException, match="ValueError: " + re.escape(msg)):
        sketches.select(TF.tdigest_quantile("d", float("nan"))).collect()


def test_null_digest_add_needs_a_compression(spark, sketches):
    with pytest.raises(PythonException, match="requires an explicit compression"):
        spark.sql(f"SELECT tdigest_add(d, vs) FROM {_VIEW} WHERE d IS NULL").collect()
    made = spark.sql(
        f"SELECT tdigest_count(tdigest_add(d, vs, 100)) AS n FROM {_VIEW} WHERE d IS NULL"
    ).collect()
    assert [r["n"] for r in made] == [1, 1]
