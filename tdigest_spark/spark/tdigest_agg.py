"""t-digest aggregates as DataFrame operations.

Maps the reference's 21 aggregate definitions (SURVEY.md §2.1.1/§2.1.2,
tdigest--1.0.0.sql + upgrades) onto the Arrow-native two-phase pipeline
in ``arrow_agg.py``.  Every aggregate is a parameterization of ONE
build+merge+finalize skeleton, exactly like the reference reuses five
final functions across its 21 aggregates.

Raw-value aggregates (reference SFUNC tdigest_add_double &c.):
    tdigest_percentile, tdigest_percentile_of, tdigest, tdigest_avg,
    tdigest_sum — all accept ``count_col`` for the pre-aggregated
    (value, count) ingestion variants and ``keys`` for GROUP BY.

Digest re-aggregation (SFUNC tdigest_add_digest &c., tdigest.c:1437-1518):
    the same entry points over stored digests via the ``*_digests``
    functions.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StructField,
)

from tdigest_spark.kernel.tdigest import (
    TDigest,
    add_values_many,
    buffer_size,
    check_compression,
    check_percentiles,
    check_trim,
    compact_many,
    decode_many,
    digest_views,
    encode_many,
    fold_chunks,
    generate_counts,
    merge_all,
    merge_into,
)
from tdigest_spark.kernel.arrownp import arrow_floats, arrow_ints
from tdigest_spark.spark.arrow_agg import (
    Sketch,
    _finalizer,
    _fold_each,
    _numeric_check,
    sketch_groupby_arrow,
)

# expansion chunk bound for the (value, count) ingestion path
_EXPAND_CHUNK = 1 << 20


# ----------------------------------------------------------------------
# folds.  The per-group forms (one Arrow group-slice → one state) are
# the reference the batch tests compare against; the engine calls the
# ``_many`` forms over a whole batch grouped by ``arrow_agg._group_rows``,
# which leave every digest exactly as the per-group forms would.
# ----------------------------------------------------------------------
def _fold_values(value_col: str):
    def fold(st: TDigest, **cols) -> None:
        st.add_values(arrow_floats(cols[value_col]))

    return fold


def _fold_values_many(value_col: str):
    def fold(states, cols, rows, bounds) -> None:
        v = arrow_floats(cols[value_col])
        add_values_many(states, v if rows is None else v[rows], bounds)

    return fold


def _fold_value_counts(value_col: str, count_col: str, compression: int):
    """(value, count) ingestion — tdigest_add_double_count semantics
    (tdigest.c:1152-1255): NULL count means 1 (tdigest.c:1210-1215),
    huge counts use the closed-form generate fast path, small counts
    expand to unit weights so tail centroid sizing stays correct."""
    bufsz = buffer_size(compression)

    def fold(st: TDigest, **cols) -> None:
        v = cols[value_col]
        c = cols[count_col]
        vals = arrow_floats(v)
        cnts = arrow_ints(c, fill=1)
        ok = ~np.isnan(vals)
        vals, cnts = vals[ok], cnts[ok]
        if np.any(cnts <= 0):
            raise ValueError("invalid count value, must be a positive value")
        huge = cnts > bufsz
        for val, cnt in zip(vals[huge], cnts[huge]):
            gc = generate_counts(compression, int(cnt))
            st.add_centroids(np.full(gc.size, val), gc)
        vals, cnts = vals[~huge], cnts[~huge]
        start = 0
        n = vals.size
        while start < n:  # expand in bounded chunks to cap memory
            end = start
            total = 0
            while end < n and total + cnts[end] <= _EXPAND_CHUNK:
                total += cnts[end]
                end += 1
            end = max(end, start + 1)
            st.add_values(np.repeat(vals[start:end], cnts[start:end]))
            start = end

    return fold


class _DigestAcc:
    """Re-aggregation state: compression of the first digest wins
    unless overridden (tdigest.c:1491)."""

    __slots__ = ("d", "compression")

    def __init__(self, compression: int | None):
        self.d: TDigest | None = None
        self.compression = compression


def _decode_groups(blobs, rows, bounds):
    """Decode a grouped batch of digest blobs: the groups holding a
    non-null blob, the compression of the first such blob of each, the
    group of every decoded blob as an index into those groups, and the
    decoded centroids in group order (``decode_many``)."""
    if rows is not None:
        blobs = blobs.take(pa.array(rows))
    gid = np.repeat(np.arange(bounds.size - 1), np.diff(bounds))
    kept, means, counts, offsets, _, compression = decode_many(blobs)
    groups, first, seg = np.unique(gid[kept], return_index=True, return_inverse=True)
    return groups, compression[first], seg, (means, counts, offsets)


def _fold_digests(digest_col: str):
    def fold(st: _DigestAcc, **cols) -> None:
        for blob in cols[digest_col].to_pylist():
            if blob is None:
                continue
            incoming = TDigest.from_bytes(bytes(blob))
            if st.d is None:
                st.d = TDigest(st.compression or incoming.compression)
            st.d.merge_digest(incoming)

    return fold


def _fold_digests_many(digest_col: str):
    def fold(states, cols, rows, bounds) -> None:
        groups, compression, seg, (means, counts, offsets) = _decode_groups(
            cols[digest_col], rows, bounds
        )
        accs = [states[g] for g in groups.tolist()]
        for st, c in zip(accs, compression.tolist()):
            if st.d is None:
                st.d = TDigest(st.compression or c)
        merge_into([st.d for st in accs], seg, means, counts, offsets)

    return fold


def _digest_of(st):
    return st.d if isinstance(st, _DigestAcc) else st


def _serialize_td(st) -> bytes | None:
    d = _digest_of(st)
    return d.to_bytes() if d is not None and d.count > 0 else None


def _with_nulls(enc: pa.Array, present: np.ndarray, n: int) -> pa.Array:
    """``enc`` (one entry per ``present`` position) spread over ``n``
    rows, NULL elsewhere."""
    if present.size == n:
        return enc
    idx = np.full(n, -1, dtype=np.int64)
    idx[present] = np.arange(present.size)
    return enc.take(pa.array(idx, mask=idx < 0))


def _serialize_many(states) -> pa.Array:
    """``_serialize_td`` for every state as one binary array: one
    segmented compaction, one encode."""
    ds = [_digest_of(st) for st in states]
    live = np.fromiter((d is not None and d.count > 0 for d in ds), bool, len(ds))
    ds = [d for d, keep in zip(ds, live) if keep]
    enc = encode_many(
        *compact_many(ds), [d.count for d in ds], [d.compression for d in ds]
    )
    return _with_nulls(enc, np.flatnonzero(live), len(states))


def _merged(sketches: list[bytes]) -> TDigest | None:
    return merge_all(TDigest.from_bytes(s) for s in sketches)


def _merged_groups(blobs, rows, bounds):
    """:func:`_merged` for every group of a grouped batch of blobs,
    compacted, on flat arrays (no ``TDigest`` per group): the groups
    holding a non-null blob and their digests as ``(means, counts,
    offsets, count, compression)``."""
    groups, compression, seg, (means, counts, offsets) = _decode_groups(blobs, rows, bounds)
    zeros = np.zeros(groups.size, dtype=np.int64)
    flat, _, _, count, _ = fold_chunks(means, counts, offsets, seg, compression, zeros, zeros)
    return groups, (*flat, count, compression)


def _merge_many(blobs, rows, bounds) -> pa.Array:
    groups, merged = _merged_groups(blobs, rows, bounds)
    return _with_nulls(encode_many(*merged), groups, bounds.size - 1)


def _merged_many(blobs, rows, bounds):
    """The groups holding a digest and, lazily, each one's merged
    ``TDigest`` for an estimator (``Sketch.merged``)."""
    groups, merged = _merged_groups(blobs, rows, bounds)
    return groups.tolist(), digest_views(*merged)


def _tdigest(new, fold) -> Sketch:
    """The t-digest record: each aggregate brings its ``new`` state and
    batch ``fold``; serialize and merge are the shared flat passes."""
    return Sketch(new, fold, _serialize_many, _merge_many, _merged_many)


def _values_sketch(value_col: str, compression: int) -> Sketch:
    """The record of a t-digest over the raw values of ``value_col``."""
    return _tdigest(lambda: TDigest(compression), _fold_values_many(value_col))


# ----------------------------------------------------------------------
# estimators of the merged digest (reference FINALFUNCs,
# tdigest.c:2064-2191, 3364-3428), for ``arrow_agg._finalizer``
# ----------------------------------------------------------------------
def _percentiles(qs):
    qs = list(qs)
    return lambda d: d.quantiles(qs).tolist()


def _count(d) -> int:
    return int(d.count)


def _trimmed(low: float, high: float, want_avg: bool):
    if want_avg:
        return lambda d: d.trimmed_avg(low, high)
    return lambda d: d.trimmed_sum(low, high)


def _recompressed(estimate, compression: int):
    """``estimate`` of the merged digest downsampled to ``compression``
    (a ``partial_compression`` build)."""

    def est(d):
        final = TDigest(compression)
        final.merge_digest(d)
        return estimate(_merged([final.to_bytes()]))

    return est


# ----------------------------------------------------------------------
# dispatch helpers
# ----------------------------------------------------------------------
def _run_values(
    df, keys, value_col, count_col, compression, estimate, fields, salt,
    partial_compression=None, empty=None,
):
    check_compression(compression)  # fail at plan time, not in the executor
    _numeric_check(df, value_col, "t-digest")
    if count_col is not None:
        _numeric_check(df, count_col, "t-digest")
    build_c = compression
    if partial_compression is not None:
        # accuracy boost: build/merge partials at higher resolution,
        # downsample to the requested compression only at finalize —
        # merged-digest error approaches the single-pass error at the
        # cost of partial_compression/compression× shuffle bytes
        check_compression(partial_compression)
        if partial_compression < compression:
            raise ValueError("partial_compression must be >= compression")
        build_c = partial_compression
        estimate = _recompressed(estimate, compression)

    if count_col is None:
        sketch = _values_sketch(value_col, build_c)
        inputs = [value_col]
    else:
        fold = _fold_each(_fold_value_counts(value_col, count_col, build_c))
        sketch = _tdigest(lambda: TDigest(build_c), fold)
        inputs = [value_col, count_col]
    return sketch_groupby_arrow(
        df, keys, inputs, sketch, _finalizer(sketch, estimate, empty), fields,
        salt=salt,
    )


def _run_digests(df, keys, digest_col, compression, estimate, fields, salt, empty=None):
    sketch = _tdigest(lambda: _DigestAcc(compression), _fold_digests_many(digest_col))
    fin = _finalizer(sketch, estimate, empty)
    marker = getattr(df, "_sketch_single_row_groups", None)
    if keys and not salt and compression is None and marker is not None:
        # the input is one of our own aggregate outputs: exactly one
        # digest row per `marker` group, so a per-partition partial
        # fold cannot pre-reduce anything.  Two degenerate shapes:
        #   - same grouping keys: the aggregate is a pure row map
        #     (finalize each group's single digest in place) — no
        #     Exchange at all;
        #   - coarser keys: shuffle the rows straight into the
        #     merge/finalize pass, skipping only the partial phase.
        # Identical merge semantics either way (the finalizers union
        # every blob of a group).
        from pyspark.sql.types import StructType

        from tdigest_spark.spark.arrow_agg import (
            SKETCH_COL,
            _key_schema,
            _merge_pass,
            finalize_rows,
        )

        keys = list(keys)
        sel = df.select(*keys, F.col(digest_col).alias(SKETCH_COL))
        result_schema = StructType(_key_schema(sel, keys) + list(fields))
        if set(marker) == set(keys):
            out = finalize_rows(sel, keys, result_schema, fin, fields)
        else:
            out = _merge_pass(
                sel, keys, result_schema, fin, emit_keys=keys,
                result_fields=fields,
            )
        out._sketch_single_row_groups = tuple(keys)
        return out
    return sketch_groupby_arrow(df, keys, [digest_col], sketch, fin, fields, salt=salt)


def _percentile_fields(quantiles, result_col):
    if np.isscalar(quantiles):
        check_percentiles([quantiles])
        q = float(quantiles)
        return lambda d: float(d.quantile(q)), [
            StructField(result_col, DoubleType(), True)
        ]
    check_percentiles(quantiles)
    return _percentiles(quantiles), [
        StructField(result_col, ArrayType(DoubleType()), True)
    ]


def _percentile_of_fields(values, result_col):
    if np.isscalar(values):
        v = float(values)
        return lambda d: float(d.quantile_of(v)), [
            StructField(result_col, DoubleType(), True)
        ]
    vs = list(values)
    return lambda d: d.quantiles_of(vs).tolist(), [
        StructField(result_col, ArrayType(DoubleType()), True)
    ]


# ----------------------------------------------------------------------
# public aggregates over raw values (§2.1.1)
# ----------------------------------------------------------------------
def tdigest_percentile(
    df: DataFrame,
    value_col: str,
    compression: int,
    quantiles,
    keys: Sequence[str] = (),
    count_col: str | None = None,
    result_col: str = "percentile",
    salt: int | None = None,
    partial_compression: int | None = None,
) -> DataFrame:
    """tdigest_percentile(value [, count], accuracy, quantile[s]) —
    SURVEY §2.1.1 #1-4."""
    estimate, fields = _percentile_fields(quantiles, result_col)
    return _run_values(df, keys, value_col, count_col, compression, estimate, fields,
                       salt, partial_compression)


def tdigest_percentile_of(
    df: DataFrame,
    value_col: str,
    compression: int,
    values,
    keys: Sequence[str] = (),
    count_col: str | None = None,
    result_col: str = "percentile_of",
    salt: int | None = None,
    partial_compression: int | None = None,
) -> DataFrame:
    """tdigest_percentile_of(value [, count], accuracy, hypothetical[s])
    — SURVEY §2.1.1 #5-8 (relative rank / inverse CDF)."""
    estimate, fields = _percentile_of_fields(values, result_col)
    return _run_values(df, keys, value_col, count_col, compression, estimate, fields,
                       salt, partial_compression)


def tdigest(
    df: DataFrame,
    value_col: str,
    compression: int,
    keys: Sequence[str] = (),
    count_col: str | None = None,
    result_col: str = "tdigest",
    salt: int | None = None,
) -> DataFrame:
    """tdigest(value [, count], accuracy) → serialized digest column —
    SURVEY §2.1.1 #9-10; the pre-aggregation workhorse."""
    fields = [StructField(result_col, BinaryType(), True)]
    return _run_values(
        df, keys, value_col, count_col, compression, None, fields, salt
    )


def tdigest_avg(
    df: DataFrame,
    value_col: str,
    compression: int,
    low: float,
    high: float,
    keys: Sequence[str] = (),
    count_col: str | None = None,
    result_col: str = "avg",
    salt: int | None = None,
) -> DataFrame:
    """tdigest_avg(value [, count], accuracy, low, high) — trimmed mean,
    SURVEY §2.1.1 #11-12."""
    check_trim(low, high)
    fields = [StructField(result_col, DoubleType(), True)]
    return _run_values(
        df, keys, value_col, count_col, compression,
        _trimmed(low, high, True), fields, salt,
    )


def tdigest_sum(
    df: DataFrame,
    value_col: str,
    compression: int,
    low: float,
    high: float,
    keys: Sequence[str] = (),
    count_col: str | None = None,
    result_col: str = "sum",
    salt: int | None = None,
) -> DataFrame:
    """tdigest_sum(value [, count], accuracy, low, high) — trimmed sum,
    SURVEY §2.1.1 #13-14."""
    check_trim(low, high)
    fields = [StructField(result_col, DoubleType(), True)]
    return _run_values(
        df, keys, value_col, count_col, compression,
        _trimmed(low, high, False), fields, salt,
    )


# ----------------------------------------------------------------------
# aggregates over pre-built digest columns (§2.1.2)
# ----------------------------------------------------------------------
def tdigest_percentile_digests(
    df: DataFrame,
    digest_col: str,
    quantiles,
    keys: Sequence[str] = (),
    result_col: str = "percentile",
    compression: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """tdigest_percentile(tdigest, quantile[s]) — SURVEY §2.1.2 #15-16."""
    estimate, fields = _percentile_fields(quantiles, result_col)
    return _run_digests(df, keys, digest_col, compression, estimate, fields, salt)


def tdigest_percentile_of_digests(
    df: DataFrame,
    digest_col: str,
    values,
    keys: Sequence[str] = (),
    result_col: str = "percentile_of",
    compression: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """tdigest_percentile_of(tdigest, hypothetical[s]) — §2.1.2 #17-18."""
    estimate, fields = _percentile_of_fields(values, result_col)
    return _run_digests(df, keys, digest_col, compression, estimate, fields, salt)


def tdigest_union_agg(
    df: DataFrame,
    digest_col: str,
    keys: Sequence[str] = (),
    result_col: str = "tdigest",
    compression: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """tdigest(tdigest) — digest-union aggregate, the tree-merge
    primitive (§2.1.2 #19)."""
    fields = [StructField(result_col, BinaryType(), True)]
    return _run_digests(df, keys, digest_col, compression, None, fields, salt)


def tdigest_avg_digests(
    df: DataFrame,
    digest_col: str,
    low: float,
    high: float,
    keys: Sequence[str] = (),
    result_col: str = "avg",
    compression: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """tdigest_avg(tdigest, low, high) — §2.1.2 #20."""
    check_trim(low, high)
    fields = [StructField(result_col, DoubleType(), True)]
    return _run_digests(
        df, keys, digest_col, compression, _trimmed(low, high, True), fields, salt
    )


def tdigest_sum_digests(
    df: DataFrame,
    digest_col: str,
    low: float,
    high: float,
    keys: Sequence[str] = (),
    result_col: str = "sum",
    compression: int | None = None,
    salt: int | None = None,
) -> DataFrame:
    """tdigest_sum(tdigest, low, high) — §2.1.2 #21."""
    check_trim(low, high)
    fields = [StructField(result_col, DoubleType(), True)]
    return _run_digests(
        df, keys, digest_col, compression, _trimmed(low, high, False), fields, salt
    )


def tdigest_rollup(
    df: DataFrame,
    value_col: str,
    compression: int,
    keys: Sequence[str],
    grouping_sets: Sequence[Sequence[str]] | None = None,
    count_col: str | None = None,
    result_col: str = "tdigest",
    salt: int | None = None,
) -> DataFrame:
    """Digests at every grain of a ROLLUP (or explicit grouping sets)
    from ONE scan: build at the finest grain, then re-aggregate stored
    digests per coarser set — mergeability makes grouping-set
    composition free (SURVEY.md §2.2; the rollup_counts driver query
    asserts count parity with GROUP BY ROLLUP).  Missing keys are
    emitted as NULL columns, like SQL ROLLUP output."""
    keys = list(keys)
    if grouping_sets is None:  # ROLLUP: (k1..kn), (k1..kn-1), ..., ()
        grouping_sets = [keys[:i] for i in range(len(keys), -1, -1)]
    if not grouping_sets:
        raise ValueError("grouping_sets must contain at least one set")
    by_name = {f.name: f.dataType for f in df.schema.fields}
    fine = tdigest(
        df, value_col, compression, keys=keys, count_col=count_col,
        result_col=result_col, salt=salt,
    )
    # materialize the (sketch-sized) finest grain so every grouping-set
    # branch re-aggregates it instead of re-running the scan+partial
    # stage per branch — this is what makes the rollup truly one-scan
    fine = fine.localCheckpoint(eager=True)
    fine._sketch_single_row_groups = tuple(keys)  # still one row per group
    out = None
    for gs in grouping_sets:
        gs = list(gs)
        if set(gs) - set(keys):
            raise ValueError(f"grouping set {gs} not a subset of keys {keys}")
        cur = (
            fine
            if gs == keys
            else tdigest_union_agg(
                fine, result_col, keys=gs, result_col=result_col, salt=salt
            )
        )
        for k in keys:
            if k not in gs:
                cur = cur.withColumn(k, F.lit(None).cast(by_name[k]))
        cur = cur.select(*keys, result_col)
        out = cur if out is None else out.unionByName(cur)
    return out


def tdigest_count_agg(
    df: DataFrame,
    value_col: str | None = None,
    compression: int = 100,
    keys: Sequence[str] = (),
    digest_col: str | None = None,
    count_col: str | None = None,
    result_col: str = "count",
) -> DataFrame:
    """Total item count of the (merged) digest — scalar
    tdigest_count (tdigest.c:2941-2947) lifted to an aggregate."""
    fields = [StructField(result_col, LongType(), True)]
    if digest_col is not None:
        return _run_digests(df, keys, digest_col, None, _count, fields, None, empty=0)
    return _run_values(
        df, keys, value_col, count_col, compression, _count, fields, None, empty=0
    )
