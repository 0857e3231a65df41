"""Companion sketch aggregates: HLL, count-min, KLL, Bloom.

Same two-phase skeleton as the t-digest aggregates (arrow_agg.py).  Row
hashing happens JVM-side with ``F.xxhash64`` inside whole-stage
codegen — Python only folds pre-hashed int64 columns into NumPy
register arrays, so there is no per-row Python anywhere.

NULL semantics follow SQL aggregates: NULL values are skipped (the
hash column is masked to NULL before the UDF and dropped inside).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, LongType, StructField

from tdigest_spark.kernel.bloom import Bloom
from tdigest_spark.kernel.countmin import CountMin
from tdigest_spark.kernel.hll import HLL
from tdigest_spark.kernel.kll import KLL
from tdigest_spark.spark.arrow_agg import (
    _finalizer,
    _numeric_check,
    sketch_groupby_arrow,
    sketch_of,
    union_of,
)

# the scalar estimators are declared with the t-digest ones in
# functions.SCALARS, and importable from here as before
from tdigest_spark.spark.functions import (  # noqa: F401
    bloom_fill_ratio,
    bloom_might_contain,
    countmin_estimate,
    countmin_total,
    hll_cardinality,
    kll_n,
    kll_quantile_of_sketch,
    kll_rank,
)

_HASH_COL = "__h64__"


def _with_hash(df: DataFrame, col: str, keep: Sequence[str] = ()) -> DataFrame:
    """JVM-side xxhash64, masked to NULL where the input is NULL so the
    sketch skips missing values (SQL aggregate semantics).  Projects to
    keep-cols + hash only, so the Arrow boundary never ships the raw
    value column (or anything wider the caller passed)."""
    hashed = df.withColumn(
        _HASH_COL, F.when(F.col(col).isNotNull(), F.xxhash64(F.col(col)))
    )
    return hashed.select(*dict.fromkeys([*keep, _HASH_COL]))


def _hash_np(col) -> np.ndarray:
    """pyarrow int64 (nullable) → exact int64 NumPy, nulls dropped.
    Never routes int64 through float64 (which would corrupt hashes
    above 2^53) and never through pandas (arrownp)."""
    from tdigest_spark.kernel.arrownp import arrow_ints

    return arrow_ints(col.drop_null())


# ----------------------------------------------------------------------
# HLL
# ----------------------------------------------------------------------
def _fold_hashes(st, **cols):
    st.add_hashes(_hash_np(cols[_HASH_COL]))


def _hll(p: int):
    return sketch_of(lambda: HLL(p), _fold_hashes, HLL.from_bytes)


def hll_sketch(
    df: DataFrame, col: str, keys: Sequence[str] = (), p: int = 14,
    result_col: str = "hll", salt: int | None = None,
) -> DataFrame:
    """Build a serialized HLL per group (mergeable, re-aggregatable)."""
    hll = _hll(p)
    return sketch_groupby_arrow(
        _with_hash(df, col, keep=keys), keys, [_HASH_COL], hll, _finalizer(hll),
        [StructField(result_col, BinaryType(), True)], salt=salt,
    )


def hll_count_distinct(
    df: DataFrame, col: str, keys: Sequence[str] = (), p: int = 14,
    result_col: str = "approx_distinct", salt: int | None = None,
) -> DataFrame:
    """Approximate COUNT(DISTINCT col) per group; σ ≈ 1.04/√(2^p)."""
    hll = _hll(p)
    return sketch_groupby_arrow(
        _with_hash(df, col, keep=keys), keys, [_HASH_COL], hll,
        _finalizer(hll, lambda m: int(m.cardinality()), 0),
        [StructField(result_col, LongType(), True)], salt=salt,
    )


def hll_union_agg(
    df: DataFrame, sketch_col: str, keys: Sequence[str] = (),
    result_col: str = "hll",
) -> DataFrame:
    """Re-aggregate stored HLL sketches (rollup path)."""
    union = union_of(HLL.from_bytes, sketch_col)
    return sketch_groupby_arrow(
        df, keys, [sketch_col], union, _finalizer(union),
        [StructField(result_col, BinaryType(), True)],
    )


# ----------------------------------------------------------------------
# count-min
# ----------------------------------------------------------------------
def _cm_fold(count_col):
    import pyarrow.compute as pc

    def fold(st, **cols):
        h = cols[_HASH_COL]
        if count_col is None:
            st.add_hashes(_hash_np(h))
            return
        from tdigest_spark.kernel.arrownp import arrow_bools, arrow_ints

        valid = arrow_bools(pc.is_valid(h))
        hv = arrow_ints(h, fill=0)
        cv = arrow_ints(cols[count_col], fill=0)
        st.add_hashes(hv[valid], cv[valid])

    return fold


def countmin_sketch(
    df: DataFrame, col: str, keys: Sequence[str] = (),
    width: int = 2048, depth: int = 5, count_col: str | None = None,
    result_col: str = "countmin", salt: int | None = None,
) -> DataFrame:
    """Build a serialized count-min sketch of value frequencies per
    group.  Point estimates are one-sided: est >= true, est <= true +
    (e/width)·N with prob 1-(1/e)^depth."""
    df = _with_hash(df, col, keep=[*keys, *([count_col] if count_col else [])])
    inputs = [_HASH_COL] + ([count_col] if count_col else [])
    cm = sketch_of(lambda: CountMin(width, depth), _cm_fold(count_col), CountMin.from_bytes)
    return sketch_groupby_arrow(
        df, keys, inputs, cm, _finalizer(cm),
        [StructField(result_col, BinaryType(), True)], salt=salt,
    )


# ----------------------------------------------------------------------
# Bloom
# ----------------------------------------------------------------------
def bloom_filter(
    df: DataFrame, col: str, keys: Sequence[str] = (),
    m: int = 1 << 20, k: int = 5,
    result_col: str = "bloom", salt: int | None = None,
) -> DataFrame:
    """Build a serialized Bloom filter of the values per group."""
    bloom = sketch_of(lambda: Bloom(m, k), _fold_hashes, Bloom.from_bytes)
    return sketch_groupby_arrow(
        _with_hash(df, col, keep=keys), keys, [_HASH_COL], bloom, _finalizer(bloom),
        [StructField(result_col, BinaryType(), True)], salt=salt,
    )


# ----------------------------------------------------------------------
# KLL
# ----------------------------------------------------------------------
def _kll(df: DataFrame, value_col: str, k: int):
    _numeric_check(df, value_col, "KLL")

    def fold(st, **cols):
        from tdigest_spark.kernel.arrownp import arrow_floats

        st.add_values(arrow_floats(cols[value_col]))

    return sketch_of(lambda: KLL(k), fold, KLL.from_bytes)


def kll_sketch(
    df: DataFrame, value_col: str, keys: Sequence[str] = (), k: int = 200,
    result_col: str = "kll", salt: int | None = None,
) -> DataFrame:
    kll = _kll(df, value_col, k)
    return sketch_groupby_arrow(
        df, keys, [value_col], kll, _finalizer(kll),
        [StructField(result_col, BinaryType(), True)], salt=salt,
    )


def kll_quantile(
    df: DataFrame, value_col: str, q: float, keys: Sequence[str] = (),
    k: int = 200, result_col: str = "quantile", salt: int | None = None,
) -> DataFrame:
    """Approximate quantile with uniform rank error ~O(1/k) — the
    cross-check estimator next to tdigest_percentile."""
    kll = _kll(df, value_col, k)
    return sketch_groupby_arrow(
        df, keys, [value_col], kll,
        _finalizer(kll, lambda m: float(m.quantile(q)) if m.n else None),
        [StructField(result_col, DoubleType(), True)], salt=salt,
    )
