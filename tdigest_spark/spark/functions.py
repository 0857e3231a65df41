"""Scalar functions over serialized sketch columns (SURVEY.md §2.1.3).

Each function is declared once, in ``SCALARS``: return type, how its
sketch column is loaded, and a per-row body ``body(sketch, *args)``.
One builder turns each entry into one Arrow UDF, called by the
DataFrame functions below (Python arguments become literal columns)
and registered under its name by ``sql_registry.register_sql_functions``
with the same trailing defaults.  NULLs come from Arrow validity, so a
NaN argument is a value, not NULL; SQL decimal literals such as
``0.25`` arrive as ``Decimal``, so bodies convert with ``float()``.
These mirror the reference's non-aggregate SQL functions:

    tdigest_count        — tdigest.c:2941-2947
    tdigest_add          — tdigest_add_double_increment, tdigest.c:2422-2533
    tdigest_union        — tdigest_union_double_increment, tdigest.c:2543-2576
    tdigest_json         — tdigest_to_json, tdigest.c:2964-3021
    tdigest_double_array — tdigest_to_array, tdigest.c:3039-3081
    tdigest_digest_sum   — tdigest.c:3433-3452
    tdigest_digest_avg   — tdigest.c:3457-3476
    tdigest_to_string / tdigest_parse — tdigest_out/tdigest_in text I/O
    tdigest_quantile / tdigest_quantile_of — single-digest estimators

plus the companion sketches' estimators, re-exported by ``sketches.py``.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    LongType,
    StringType,
)

from tdigest_spark.kernel.bloom import Bloom
from tdigest_spark.kernel.countmin import CountMin
from tdigest_spark.kernel.hll import HLL
from tdigest_spark.kernel.kll import KLL
from tdigest_spark.kernel.tdigest import TDigest, decode_many, digest_views


class Scalar(NamedTuple):
    """One scalar function of a sketch column."""

    ret: DataType
    load: Callable  # sketch column (pa.Array) -> one sketch or None per row
    body: Callable  # body(sketch, *args) -> the row's value
    strict: bool = True  # a NULL argument gives NULL without calling body


# ----------------------------------------------------------------------
# loaders
# ----------------------------------------------------------------------
def _tdigests(col: pa.Array) -> list:
    """The column decoded in one pass (``decode_many``: the checks and
    messages of ``TDigest.from_bytes``), a ``TDigest`` view per row —
    for bodies that only read their digest."""
    rows, *flat = decode_many(col)
    out = [None] * len(col)
    for r, d in zip(rows.tolist(), digest_views(*flat)):
        out[r] = d
    return out


# the column's Python values (bytes, str, or None): for bodies that
# parse, or that build an owned digest they may mutate
_blobs = pa.Array.to_pylist


def _lookup_sketch(cache: dict, last: list, blob, from_bytes):
    """Per-row sketch resolution without hashing the whole blob each
    row: consecutive rows almost always carry the same (large) sketch
    blob, so an identity/equality check against the previous row's blob
    skips both the ``bytes()`` copy and the dict hash of ~10-100 KB."""
    if last[0] is not None and (blob is last[0] or blob == last[0]):
        return last[1]
    bb = bytes(blob)
    sk = cache.get(bb)
    if sk is None:
        sk = cache[bb] = from_bytes(bb)
    last[0], last[1] = blob, sk
    return sk


def _sketches(from_bytes):
    """A loader of companion sketches: each distinct blob parsed once a batch."""

    def load(col: pa.Array) -> list:
        cache: dict = {}
        last: list = [None, None]
        return [
            None if b is None else _lookup_sketch(cache, last, b, from_bytes)
            for b in col.to_pylist()
        ]

    return load


def _add(blob, value, compression=None, compact=True):
    """Incremental update: add a value, or an array of values (the batch
    variant, tdigest.c:2480-2533), to a stored digest.  A NULL value
    returns the digest unchanged; a NULL digest with ``compression``
    given creates a new digest (tdigest.c:2422-2467)."""
    if value is None:
        return blob
    if blob is None:
        if compression is None:
            raise ValueError("tdigest_add: NULL digest requires an explicit compression")
        d = TDigest(int(compression))
    else:
        d = TDigest.from_bytes(blob)
    compact = True if compact is None else bool(compact)
    d.add_values(
        value if isinstance(value, list) else [value],
        compact_threshold=None if compact else 1 << 62,
    )
    return d.to_bytes(compact=compact)


def union_pair_bytes(b1, b2, compact=True) -> bytes | None:
    """Merge two serialized digests; NULL-tolerant (returns the other
    side).  ``tdigest_union(NULL, d)`` forces a compaction per the
    reference README's documented idiom (README.md:238-248).  This
    diverges byte-wise from the reference C code's NULL fast path, which
    returns the non-NULL digest unchanged without compacting
    (tdigest.c:2543-2576); the README behavior is authoritative here."""
    a, b = (None if x is None else TDigest.from_bytes(x) for x in (b1, b2))
    if a is None and b is None:
        return None
    if a is None:
        a, b = b, None
    if b is not None:
        a.add_centroids(*b.centroid_arrays(), compact_threshold=1 << 62)
    compact = True if compact is None else bool(compact)
    if compact:
        # the reference re-compacts the whole merged state, and
        # union(NULL, d) is its documented force-compaction idiom
        a.recompact()
    return a.to_bytes(compact=compact)


def _histogram(d: TDigest, k) -> list:
    """Equi-depth histogram boundaries derived from a digest: k+1
    monotone values at quantiles i/k (bucket i holds ~1/k of the mass).
    The digest-native replacement for a full-data sort when binning
    features at scale."""
    k = int(k)
    if k < 1:
        raise ValueError(f"tdigest_histogram: k must be >= 1, got {k}")
    return d.quantiles([i / k for i in range(k + 1)]).tolist()


SCALARS = {
    "tdigest_count": Scalar(LongType(), _tdigests, lambda d: d.count),
    "tdigest_quantile": Scalar(
        DoubleType(), _tdigests, lambda d, q: d.quantile(float(q))
    ),
    "tdigest_quantile_of": Scalar(
        DoubleType(), _tdigests, lambda d, v: d.quantile_of(float(v))
    ),
    "tdigest_add": Scalar(BinaryType(), _blobs, _add, strict=False),
    "tdigest_union": Scalar(BinaryType(), _blobs, union_pair_bytes, strict=False),
    "tdigest_json": Scalar(StringType(), _tdigests, TDigest.to_json),
    "tdigest_double_array": Scalar(
        ArrayType(DoubleType()), _tdigests, lambda d: d.to_double_array().tolist()
    ),
    "tdigest_digest_sum": Scalar(
        DoubleType(), _tdigests, lambda d, low=0.0, high=1.0: d.trimmed_sum(low, high)
    ),
    "tdigest_digest_avg": Scalar(
        DoubleType(), _tdigests, lambda d, low=0.0, high=1.0: d.trimmed_avg(low, high)
    ),
    "tdigest_histogram": Scalar(ArrayType(DoubleType()), _tdigests, _histogram),
    "tdigest_to_string": Scalar(StringType(), _tdigests, TDigest.to_string),
    "tdigest_parse": Scalar(
        BinaryType(), _blobs, lambda t: TDigest.from_string(t).to_bytes()
    ),
    "hll_cardinality": Scalar(LongType(), _sketches(HLL.from_bytes), HLL.cardinality),
    "countmin_total": Scalar(LongType(), _sketches(CountMin.from_bytes), lambda s: s.total),
    # the probe arrives as its xxhash64, an exact (nullable) Arrow int64
    "countmin_estimate": Scalar(
        LongType(), _sketches(CountMin.from_bytes),
        lambda s, h: int(s.estimate_hashes(np.array([h]))[0]),
    ),
    "kll_n": Scalar(LongType(), _sketches(KLL.from_bytes), lambda s: s.n),
    "kll_rank": Scalar(
        DoubleType(), _sketches(KLL.from_bytes),
        lambda s, v: float(s.rank_of([float(v)])[0]),
    ),
    "kll_quantile_of_sketch": Scalar(
        DoubleType(), _sketches(KLL.from_bytes), lambda s, q: s.quantile(float(q))
    ),
    "bloom_fill_ratio": Scalar(DoubleType(), _sketches(Bloom.from_bytes), Bloom.fill_ratio),
    "bloom_might_contain": Scalar(
        BooleanType(), _sketches(Bloom.from_bytes),
        lambda s, h: bool(s.contains_hashes(np.array([h]))[0]),
    ),
}


def _arrow_udf(entry: Scalar):
    """The one Arrow UDF of a table entry: the sketch column loaded once
    per batch, the body called per row with the other arguments as
    Python values (absent trailing arguments take the body's defaults)."""
    ret = to_arrow_type(entry.ret)

    def udf(sketches: pa.Array, *args: pa.Array) -> pa.Array:
        rows = zip(entry.load(sketches), *(a.to_pylist() for a in args))
        return pa.array(
            [
                None if entry.strict and None in row else entry.body(*row)
                for row in rows
            ],
            ret,
        )

    return arrow_udf(udf, entry.ret)


UDFS = {name: _arrow_udf(entry) for name, entry in SCALARS.items()}


def _hashed(probe: Column) -> Column:
    """The probe's JVM-side xxhash64, NULL where the probe is NULL."""
    return F.when(probe.isNotNull(), F.xxhash64(probe))


# ----------------------------------------------------------------------
# DataFrame surface
# ----------------------------------------------------------------------
def tdigest_count(digest: Column) -> Column:
    return UDFS["tdigest_count"](digest)


def tdigest_quantile(digest: Column, q: float) -> Column:
    return UDFS["tdigest_quantile"](digest, F.lit(float(q)))


def tdigest_quantile_of(digest: Column, value: float) -> Column:
    return UDFS["tdigest_quantile_of"](digest, F.lit(float(value)))


def tdigest_add(
    digest: Column, value: Column, compression: int | None = None, compact: bool = True
) -> Column:
    """Add a double or array<double> column to a digest; see :func:`_add`."""
    return UDFS["tdigest_add"](digest, value, F.lit(compression), F.lit(compact))


def tdigest_union(d1: Column, d2: Column, compact: bool = True) -> Column:
    """Merge two digests; see :func:`union_pair_bytes`."""
    return UDFS["tdigest_union"](d1, d2, F.lit(compact))


def tdigest_json(digest: Column) -> Column:
    return UDFS["tdigest_json"](digest)


def tdigest_double_array(digest: Column) -> Column:
    return UDFS["tdigest_double_array"](digest)


def tdigest_digest_sum(digest: Column, low: float = 0.0, high: float = 1.0) -> Column:
    return UDFS["tdigest_digest_sum"](digest, F.lit(float(low)), F.lit(float(high)))


def tdigest_digest_avg(digest: Column, low: float = 0.0, high: float = 1.0) -> Column:
    return UDFS["tdigest_digest_avg"](digest, F.lit(float(low)), F.lit(float(high)))


def tdigest_histogram(digest: Column, k: int) -> Column:
    """k+1 equi-depth boundaries (see :func:`_histogram`); k < 1 raises."""
    return UDFS["tdigest_histogram"](digest, F.lit(int(k)))


def tdigest_to_string(digest: Column) -> Column:
    return UDFS["tdigest_to_string"](digest)


def tdigest_parse(text: Column) -> Column:
    return UDFS["tdigest_parse"](text)


def hll_cardinality(sketch: Column) -> Column:
    return UDFS["hll_cardinality"](sketch)


def countmin_total(sketch: Column) -> Column:
    return UDFS["countmin_total"](sketch)


def countmin_estimate(sketch: Column, probe: Column) -> Column:
    """Estimated frequency of ``probe`` (any type) in the sketch.
    The probe is hashed JVM-side with the same xxhash64."""
    return UDFS["countmin_estimate"](sketch, _hashed(probe))


def kll_n(sketch: Column) -> Column:
    return UDFS["kll_n"](sketch)


def kll_rank(sketch: Column, value: float) -> Column:
    return UDFS["kll_rank"](sketch, F.lit(float(value)))


def kll_quantile_of_sketch(sketch: Column, q: float) -> Column:
    return UDFS["kll_quantile_of_sketch"](sketch, F.lit(float(q)))


def bloom_fill_ratio(sketch: Column) -> Column:
    return UDFS["bloom_fill_ratio"](sketch)


def bloom_might_contain(sketch: Column, probe: Column) -> Column:
    """Membership probe (no false negatives); ``probe`` is hashed
    JVM-side with the filter's xxhash64."""
    return UDFS["bloom_might_contain"](sketch, _hashed(probe))
