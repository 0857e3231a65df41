"""Register the sketch functions for use from ``spark.sql``.

The reference exposes everything as SQL (CREATE FUNCTION/AGGREGATE in
tdigest--1.0.0.sql).  ``register_sql_functions`` gives each scalar
function of ``functions.SCALARS`` its SQL name (the DataFrame function's
Arrow UDF, same trailing defaults; the probes take ``xxhash64(x)``):

    SELECT lang, tdigest_digest_avg(digest, 0.25, 0.75) FROM digests_table

``register_sql_aggregates`` additionally registers GROUP BY-callable
aggregate forms (grouped-agg pandas UDFs) mirroring the reference's
CREATE AGGREGATE surface:

    SELECT a, tdigest_percentile_agg(c, 100, 0.95) FROM t GROUP BY a

Caveat, stated up front: Spark's grouped-agg pandas UDFs have NO
partial-merge — each group's values stream to one task.  These SQL
aggregates are the interactive convenience surface; the 100 TB path
remains the DataFrame API's two-phase engine (arrow_agg), whose
partials/merge/salt machinery the SQL forms deliberately do not
replace.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BinaryType, DoubleType

from tdigest_spark.kernel.bloom import Bloom
from tdigest_spark.kernel.countmin import CountMin
from tdigest_spark.kernel.hashing import int64_hashes
from tdigest_spark.kernel.hll import HLL
from tdigest_spark.kernel.kll import KLL
from tdigest_spark.kernel.tdigest import TDigest
from tdigest_spark.spark.functions import UDFS


def register_sql_functions(spark: SparkSession) -> None:
    """Idempotent registration of every ``functions.SCALARS`` entry under
    its name, plus ``tdigest_add_array`` (an alias of ``tdigest_add``)."""
    for name, udf in UDFS.items():
        spark.udf.register(name, udf)
    spark.udf.register("tdigest_add_array", UDFS["tdigest_add"])


def register_sql_aggregates(spark: SparkSession) -> None:
    """GROUP BY-callable aggregate forms of the reference's CREATE
    AGGREGATE surface (tdigest--1.0.0.sql:62-70), as grouped-agg pandas
    UDFs.  Extra arguments arrive as constant columns; the first row's
    value parameterizes the aggregate (matching how the reference's
    direct arguments work).  See the module docstring for the
    no-partial-merge scale caveat."""
    import numpy as np

    from tdigest_spark.kernel.tdigest import merge_all

    def _build_digest(v: pd.Series, compression: pd.Series) -> TDigest | None:
        """Shared value-cleaning + digest construction for the three
        t-digest aggregate forms (NaN/NULL values dropped, empty group
        → None)."""
        vals = v.to_numpy(dtype=np.float64, na_value=np.nan)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return None
        d = TDigest(int(compression.iloc[0]))
        d.add_values(vals)
        return d

    @pandas_udf(BinaryType())
    def tdigest_agg(v: pd.Series, compression: pd.Series) -> bytes | None:
        d = _build_digest(v, compression)
        return d.to_bytes() if d is not None else None

    @pandas_udf(DoubleType())
    def tdigest_percentile_agg(
        v: pd.Series, compression: pd.Series, q: pd.Series
    ) -> float | None:
        d = _build_digest(v, compression)
        return float(d.quantile(float(q.iloc[0]))) if d is not None else None

    @pandas_udf(DoubleType())
    def tdigest_percentile_of_agg(
        v: pd.Series, compression: pd.Series, hyp: pd.Series
    ) -> float | None:
        d = _build_digest(v, compression)
        return float(d.quantile_of(float(hyp.iloc[0]))) if d is not None else None

    @pandas_udf(BinaryType())
    def tdigest_union_sql_agg(digests: pd.Series) -> bytes | None:
        ds = [TDigest.from_bytes(bytes(b)) for b in digests if b is not None]
        m = merge_all(ds)
        return m.to_bytes() if m is not None else None

    # companion sketches: the hash-keyed forms take an ALREADY-HASHED
    # int64 column — call them as hll_agg(xxhash64(col)) so SQL-built
    # and DataFrame-engine-built sketches share the one xxhash64 family
    # and stay mergeable with each other (an in-process Python hash
    # would silently produce incompatible sketches).  xxhash64 is
    # never NULL (a NULL input hashes to the seed constant and counts
    # as one token); filter NULLs upstream for COUNT DISTINCT-style
    # semantics.
    def _of_hashes(new, h: pd.Series) -> bytes | None:
        """A ``new()`` sketch of an already-hashed int64 column; None for
        an empty group."""
        hv = int64_hashes(h)
        if hv.size == 0:
            return None
        s = new()
        s.add_hashes(hv)
        return s.to_bytes()

    @pandas_udf(BinaryType())
    def hll_agg(h: pd.Series) -> bytes | None:
        return _of_hashes(HLL, h)

    @pandas_udf(BinaryType())
    def kll_agg(v: pd.Series, k: pd.Series) -> bytes | None:
        vals = v.to_numpy(dtype=np.float64, na_value=np.nan)
        vals = vals[~np.isnan(vals)]
        if vals.size == 0:
            return None
        s = KLL(int(k.iloc[0]))
        s.add_values(vals)
        return s.to_bytes()

    @pandas_udf(BinaryType())
    def bloom_agg(h: pd.Series, m: pd.Series, k: pd.Series) -> bytes | None:
        return _of_hashes(lambda: Bloom(int(m.iloc[0]), int(k.iloc[0])), h)

    @pandas_udf(BinaryType())
    def countmin_agg(h: pd.Series) -> bytes | None:
        return _of_hashes(CountMin, h)

    spark.udf.register("tdigest_agg", tdigest_agg)
    spark.udf.register("tdigest_percentile_agg", tdigest_percentile_agg)
    spark.udf.register("tdigest_percentile_of_agg", tdigest_percentile_of_agg)
    spark.udf.register("tdigest_union_agg", tdigest_union_sql_agg)
    spark.udf.register("hll_agg", hll_agg)
    spark.udf.register("kll_agg", kll_agg)
    spark.udf.register("bloom_agg", bloom_agg)
    spark.udf.register("countmin_agg", countmin_agg)

