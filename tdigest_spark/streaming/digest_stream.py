"""Streaming sketch maintenance (Structured Streaming).

The reference has no streaming surface — its "incremental updates" are
transactional UPDATEs (README.md:192-248).  The Spark-native equivalent
is a stateful streaming aggregate: per group key, a serialized sketch
lives in operator state; each micro-batch folds its rows in
(``applyInPandasWithState``) and emits the updated sketch + a running
statistic.  Because sketch merge is associative, the stream's final
state equals the batch build over the same rows (within the usual
partitioning-order tolerance), which the tests assert.

Every builder is a thin wrapper over ONE stateful stage
(``_sketch_stage``) driven by one small spec per sketch (``_Spec``:
t-digest, HLL, count-min, KLL, top-k).  A spec holds the sketch's
constructor and ``from_bytes`` plus one fold per input shape — raw
rows, the packed ``prereduce_windowed_*`` staging arrays, and (t-digest
only) partial digests — so each sketch's streaming fold is written
once for its ``streaming_*`` and ``streaming_windowed_*`` builders.
The stage runs unwindowed (state never expires) or over event-time
windows (state evicted once the watermark passes the window end).

A ``foreach_batch_union`` helper covers the simpler pattern of
checkpointing per-batch digests to a table and rolling them up with
``tdigest_union_agg`` at query time.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from operator import attrgetter
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from tdigest_spark.kernel.hashing import int64_hashes
from tdigest_spark.kernel.tdigest import TDigest
from tdigest_spark.spark.arrow_agg import SKETCH_COL, _partials_batch, fold_group_batches
from tdigest_spark.spark.tdigest_agg import _values_sketch

# ObjectHashAggregate (collect_set/collect_list partials) falls back to
# a sort-based aggregate once a task sees more than this many groups
# (default 128) — far below a web stream's live (key, window) cells per
# task; the prereduce compaction raises it so the map-side pack stays
# hash-based (see prereduce_windowed_hashes)
_OBJ_AGG_THRESHOLD = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"


def _resolve_session_tz(tz: str):
    """Resolve a Spark session-timezone string to a tzinfo.

    Spark accepts both region ids ('UTC', 'America/New_York') and
    offset styles ('+08:00', 'GMT+8', 'UTC+05:30'); ZoneInfo only knows
    the former, so offsets are parsed into fixed ``datetime.timezone``
    values.  Resolved once at plan time so an unrecognized value fails
    fast on the driver instead of crashing inside the state-update
    worker."""
    import re
    from datetime import timedelta, timezone

    m = re.fullmatch(
        r"(?:GMT|UTC)?([+-])(\d{1,2})(?::(\d{2}))?(?::(\d{2}))?", tz.strip()
    )
    if m:
        sign = 1 if m.group(1) == "+" else -1
        delta = timedelta(
            hours=int(m.group(2)),
            minutes=int(m.group(3) or 0),
            seconds=int(m.group(4) or 0),
        )
        return timezone(sign * delta)
    from zoneinfo import ZoneInfo

    try:
        return ZoneInfo(tz.strip())
    except Exception as exc:
        raise ValueError(
            f"cannot resolve spark.sql.session.timeZone {tz!r} to a tzinfo"
        ) from exc


# ----------------------------------------------------------------------
# sketch specs: each sketch's streaming folds, written once
# ----------------------------------------------------------------------
class _Spec(NamedTuple):
    """One sketch as the stateful stage sees it.  Every fold is
    ``fold(sketch, pdf, col) -> bool``: it folds one pandas batch's
    ``col`` in and reports whether the batch contributed data (NaN,
    NULL and empty batches do not)."""

    state_field: str  # operator-state field of the unwindowed builder
    stat: str  # emitted long column after the sketch blob
    stat_of: Callable  # sketch -> that column's value
    new: Callable  # () -> empty sketch
    load: Callable  # bytes -> sketch
    fold_rows: Callable  # one raw value / hash / item per row
    fold_packed: Callable  # prereduce staging arrays (+ `{col}_counts`)
    fold_partials: Callable | None = None  # serialized partial sketches


def _packed(col: pd.Series, dtype) -> np.ndarray:
    """Concatenate a pandas series of ARRAYS (the prereduce staging
    formats) into one ``dtype`` vector, empty if the batch carries
    nothing.  Arrow delivers list<T> as an object series of ndarrays,
    so this is a bulk concatenate — no per-element Python."""
    arrs = [np.asarray(a, dtype=dtype) for a in col if a is not None and len(a)]
    if not arrs:
        return np.empty(0, dtype=dtype)
    return np.concatenate(arrs) if len(arrs) > 1 else arrs[0]


def _packed_pairs(icol: pd.Series, ccol: pd.Series, dtype=None):
    """Aligned concatenation of a (items array, counts array) column
    pair from the ``with_counts`` staging format — one mask decides for
    BOTH columns so a row skipped on one side can never shift the
    pairing."""
    items, counts = [], []
    for a, c in zip(icol, ccol):
        if a is not None and len(a):
            items.append(np.asarray(a, dtype=dtype))
            counts.append(np.asarray(c, dtype=np.int64))
    if not items:
        return np.empty(0, dtype=dtype), np.empty(0, dtype=np.int64)
    if len(items) == 1:
        return items[0], counts[0]
    return np.concatenate(items), np.concatenate(counts)


def _value_folds(stat_of):
    """Row and packed folds of a quantile sketch (t-digest, KLL):
    ``add_values`` drops NaN/NULL, so a batch contributed exactly when
    the sketch's count grew."""

    def add(s, vals) -> bool:
        before = stat_of(s)
        s.add_values(vals)
        return stat_of(s) > before

    return (
        lambda s, pdf, col: add(
            s, pdf[col].to_numpy(dtype=np.float64, na_value=np.nan)
        ),
        lambda s, pdf, col: add(s, _packed(pdf[col], np.float64)),
    )


def _tdigest_spec(compression: int) -> _Spec:
    stat_of = attrgetter("count")

    def fold_partials(d, pdf, col) -> bool:
        before = d.count
        for blob in pdf[col]:
            if blob is not None:  # a task's all-NaN group ships NULL
                d.merge_digest(TDigest.from_bytes(bytes(blob)))
        return d.count > before

    return _Spec(
        "digest", "count", stat_of, lambda: TDigest(compression),
        TDigest.from_bytes, *_value_folds(stat_of), fold_partials,
    )


def _kll_spec(k: int) -> _Spec:
    from tdigest_spark.kernel.kll import KLL

    stat_of = attrgetter("n")
    return _Spec(
        "kll", "n", stat_of, lambda: KLL(k), KLL.from_bytes, *_value_folds(stat_of)
    )


def _hll_spec(p: int) -> _Spec:
    from tdigest_spark.kernel.hll import HLL

    def add(h, hashes) -> bool:
        h.add_hashes(hashes)
        return hashes.size > 0

    return _Spec(
        "hll", "estimate", lambda h: int(h.cardinality()), lambda: HLL(p),
        HLL.from_bytes,
        lambda h, pdf, col: add(h, int64_hashes(pdf[col])),
        lambda h, pdf, col: add(h, _packed(pdf[col], np.int64)),
    )


def _countmin_spec(width: int, depth: int) -> _Spec:
    from tdigest_spark.kernel.countmin import CountMin

    def add(cm, hashes, counts=None) -> bool:
        cm.add_hashes(hashes, counts)
        return hashes.size > 0

    return _Spec(
        "cm", "total", attrgetter("total"), lambda: CountMin(width, depth),
        CountMin.from_bytes,
        lambda cm, pdf, col: add(cm, int64_hashes(pdf[col])),
        lambda cm, pdf, col: add(
            cm, *_packed_pairs(pdf[col], pdf[f"{col}_counts"], np.int64)
        ),
    )


def _topk_spec(m: int) -> _Spec:
    """Items arrive as strings: the builders cast the item column
    JVM-side, as ``topk_sketch`` does (the wire format encodes str)."""
    from tdigest_spark.kernel.topk import SpaceSaving

    def add(s, items, counts=None) -> bool:
        s.add_items(items, counts)
        return len(items) > 0

    def fold_packed(s, pdf, col) -> bool:
        items, counts = _packed_pairs(pdf[col], pdf[f"{col}_counts"])
        return add(s, items.tolist(), counts)

    return _Spec(
        "topk", "n", attrgetter("n"), lambda: SpaceSaving(m),
        SpaceSaving.from_bytes,
        lambda s, pdf, col: add(s, pdf[col].dropna().tolist()),
        fold_packed,
    )


class _Window(NamedTuple):
    ts_col: str
    duration: str
    watermark_delay: str
    slide: str | None
    packed: bool  # prereduce staging: window_start assigned, array columns


def _window_starts(ts_col: str, window_duration: str, slide_duration: str):
    """Array-of-window-starts Column for a SLIDING event-time window:
    every event belongs to ``duration/slide`` epoch-aligned windows
    (half-open ``[start, start + duration)`` — the same grid and
    inclusion rule as Spark's ``F.window(ts, duration, slide)`` with
    the default startTime, verified by differential test).  Microsecond
    arithmetic so sub-second timestamps assign exactly; ``floor``
    division keeps pre-1970 timestamps on the same grid."""
    w_us = int(pd.Timedelta(window_duration).total_seconds() * 1_000_000)
    s_us = int(pd.Timedelta(slide_duration).total_seconds() * 1_000_000)
    if s_us <= 0 or w_us % s_us != 0:
        raise ValueError(
            f"slide_duration {slide_duration!r} must evenly divide "
            f"window_duration {window_duration!r}"
        )
    n = w_us // s_us
    # all-long arithmetic: sequence() yields int32, and int32 × a
    # microsecond slide overflows at i=3 for a 15-minute slide under
    # ANSI mode
    s_lit = F.lit(s_us).cast("long")
    last = F.floor(F.unix_micros(F.col(ts_col)) / s_lit) * s_lit
    return F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: F.timestamp_micros((last - i.cast("long") * s_lit).cast("long")),
    )


def _window_start_col(ts_col: str, window_duration: str, slide_duration):
    """The window_start Column of a tumbling window, or the exploded
    starts of a sliding one (pure Catalyst — no Python in the
    assignment)."""
    if slide_duration is not None:
        return F.explode(_window_starts(ts_col, window_duration, slide_duration))
    return F.window(F.col(ts_col), window_duration)["start"]


def _assign_windows(df: DataFrame, w: _Window) -> DataFrame:
    """Watermark ``w.ts_col`` and add the ``window_start`` group
    column."""
    ts_col = w.ts_col
    if not w.packed and ts_col == "window_start":
        # a RAW stream whose timestamp column happens to be named
        # window_start would silently skip window assignment if we
        # inferred pre-assignment from the name (every distinct ts its
        # own state group, window_duration ignored) — force the caller
        # to disambiguate
        raise ValueError(
            "ts_col='window_start' but packed=False: rename the raw "
            "timestamp column, or set packed=True if this stream is "
            "prereduce staging output"
        )
    if w.packed:
        # the packed staging format streams a pre-assigned column
        # already NAMED window_start; replacing it via withColumn below
        # would project away the watermark-tagged attribute and
        # event-time timeout then fails plan analysis ("watermark must
        # be specified") — keep the tagged original under an internal
        # name so it survives into the stateful operator's child plan
        df = df.withColumnRenamed("window_start", "_event_ts")
        ts_col = "_event_ts"
    wm = df.withWatermark(ts_col, w.watermark_delay)
    if w.packed:
        # staged window identities are used VERBATIM: re-windowing is
        # idempotent for tumbling starts but would snap a slide-aligned
        # start (e.g. 00:15 of a 1h/15min window) onto the wrong
        # tumbling grid.  The copy must NOT inherit the watermark tag —
        # a bare column alias propagates attribute metadata
        # (spark.watermarkDelayMs included) and the plan then carries
        # two event-time columns, which stateful planning rejects
        return wm.select("*", F.col(ts_col).alias("window_start", metadata={}))
    return wm.withColumn(
        "window_start", _window_start_col(ts_col, w.duration, w.slide)
    )


def _sketch_stage(
    df: DataFrame,
    keys: Sequence[str],
    spec: _Spec,
    col: str,
    result_col: str,
    window: _Window | None = None,
    partials: bool = False,
) -> DataFrame:
    """The stateful stage behind every streaming builder: one
    serialized ``spec`` sketch per group in operator state, each pandas
    batch's ``col`` folded in by the spec's fold for the input shape —
    raw rows, packed staging (``window.packed``) or t-digest partials
    (``partials``); emits (groups..., result_col binary, spec.stat
    long).

    Unwindowed (``window=None``): groups are ``keys`` and state never
    expires (NoTimeout — only for bounded key spaces).  A group emits
    only when the fold contributed, so a batch whose rows all failed to
    add (all-NaN values, partials that merged nothing) leaves state and
    downstream sinks untouched.

    Windowed: groups are (keys..., window_start) over tumbling or
    sliding event-time windows, with watermark-bounded late data and
    event-time-timeout eviction of closed windows — so state size is
    O(active windows × groups), not stream length OR key-space size.
    Each window evicts independently once the watermark passes ITS
    end; a group emits when the fold contributed or when it holds
    state (re-arming the eviction timeout)."""
    if partials:
        fold = spec.fold_partials
    elif window is not None and window.packed:
        fold = spec.fold_packed
    else:
        fold = spec.fold_rows
    keys = list(keys)
    key_fields = [f for f in df.schema.fields if f.name in keys]
    # every builder emits its keys through a pandas DataFrame, whose
    # Arrow conversion turns a float key's NaN into NULL — the NaN
    # group would silently come back labelled as the NULL group
    for f in key_fields:
        if isinstance(f.dataType, (FloatType, DoubleType)):
            raise ValueError(
                f"key column {f.name!r} is {f.dataType.simpleString()} — "
                "float keys cannot round-trip pandas without conflating "
                "NaN with NULL; cast the key upstream"
            )
    group_cols = keys
    state_field = spec.state_field
    timeout = GroupStateTimeout.NoTimeout
    if window is not None:
        df = _assign_windows(df, window)
        key_fields.append(StructField("window_start", TimestampType(), False))
        group_cols = [*keys, "window_start"]
        state_field = "sketch"
        timeout = GroupStateTimeout.EventTimeTimeout
        window_ms = int(pd.Timedelta(window.duration).total_seconds() * 1000)
        # applyInPandasWithState delivers TimestampType keys as NAIVE
        # wall time in the SESSION timezone (pyspark worker localizes
        # with spark.sql.session.timeZone, not the OS zone) — resolve it
        # to a tzinfo at plan time (offset styles like 'GMT+8' included,
        # failing fast on bad values) so the worker can recover the
        # true epoch
        session_tzinfo = _resolve_session_tz(
            df.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"
        )
    out_schema = StructType(
        key_fields
        + [
            StructField(result_col, BinaryType(), True),
            StructField(spec.stat, LongType(), False),
        ]
    )
    state_schema = StructType([StructField(state_field, BinaryType(), True)])

    def update(key, batches, state: GroupState):
        if state.hasTimedOut:
            # window fell behind the watermark: final state already
            # emitted on its last update; just drop it
            state.remove()
            return
        s = spec.load(bytes(state.get[0])) if state.exists else spec.new()
        saw = False
        for pdf in batches:
            saw = fold(s, pdf, col) or saw
        if not (saw or (window is not None and state.exists)):
            return
        blob = s.to_bytes()
        state.update((blob,))
        if window is not None:
            # evict only once the watermark passes the WINDOW END — a
            # watermark-relative timeout would drop a still-open window
            # that merely went idle for one micro-batch, silently
            # splitting its sketch.  (Rows for this window are admitted
            # exactly while watermark < window_end, so that is the
            # earliest safe eviction point.)
            window_start = key[-1]
            if hasattr(window_start, "to_pydatetime"):
                window_start = window_start.to_pydatetime()
            if window_start.tzinfo is None:
                # a DST-ambiguous wall time (fall-back repeated hour)
                # maps to two instants; take the LATER one so the
                # timeout can only fire late, never early — evicting
                # before the watermark passes window_end would split a
                # still-open window's sketch
                t0 = window_start.replace(tzinfo=session_tzinfo, fold=0)
                t1 = window_start.replace(tzinfo=session_tzinfo, fold=1)
                epoch = max(t0.timestamp(), t1.timestamp())
            else:
                epoch = window_start.timestamp()
            window_end_ms = int(epoch * 1000) + window_ms
            state.setTimeoutTimestamp(
                max(window_end_ms + 1_000, state.getCurrentWatermarkMs() + 1_000)
            )
        yield pd.DataFrame(
            {
                **{k: [kv] for k, kv in zip(group_cols, key)},
                result_col: [blob],
                spec.stat: [spec.stat_of(s)],
            }
        )

    return df.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
    )


def streaming_tdigest(
    stream_df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    compression: int = 100,
    digest_col: str = "digest",
    combine_partials: bool = False,
) -> DataFrame:
    """Maintain one t-digest per group across micro-batches.

    Emits (keys..., digest binary, count long) whenever a group sees
    new data.  State is the serialized digest — bounded at
    16 B × 10·compression per key regardless of stream length.

    ``combine_partials=True`` inserts a task-local partial-digest
    phase (stateless ``mapInArrow``) BEFORE the stateful shuffle —
    the batch engine's own partial phase applied to streaming: each
    scan task folds its rows into ONE partial digest per key per task
    (see ``_tdigest_partials``), so the state-store shuffle and the
    stateful operator's Python serde carry O(scan tasks × keys)
    kilobyte blobs per micro-batch instead of O(rows).  Counts stay
    exact and estimates stay inside the same tolerance band (merge
    associativity), but the serialized centroid layout differs from
    the sequential row fold, so leave this off when byte-comparing
    against a row-fold digest.  Keys stay Arrow in that phase, so
    nullable integer keys (values above 2^53 included) group exactly.

    Like every streaming builder, FLOAT key columns are rejected at
    plan time: keys are emitted through pandas, where NaN and NULL
    conflate."""
    keys = list(keys)
    spec = _tdigest_spec(compression)
    if combine_partials:
        return _sketch_stage(
            _tdigest_partials(stream_df, keys, value_col, compression),
            keys, spec, SKETCH_COL, digest_col, partials=True,
        )
    return _sketch_stage(stream_df, keys, spec, value_col, digest_col)


def _tdigest_partials(
    stream_df: DataFrame, keys: list, value_col: str, compression: int
) -> DataFrame:
    """The ``combine_partials=True`` partial phase: ``mapInArrow`` over
    the batch engine's ``fold_group_batches`` with t-digest's record,
    so each scan task emits one (keys..., partial digest) row per key
    it saw — NULL for a key whose values were all NaN."""
    key_fields = [f for f in stream_df.schema.fields if f.name in keys]
    schema = StructType(key_fields + [StructField(SKETCH_COL, BinaryType(), True)])
    sketch = _values_sketch(value_col, compression)

    def build_partials(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        states = fold_group_batches(batches, keys, [value_col], sketch)
        yield _partials_batch(states, keys, sketch, to_arrow_schema(schema))

    return stream_df.select(*keys, value_col).mapInArrow(build_partials, schema)


def streaming_hll_distinct(
    stream_df: DataFrame,
    keys: Sequence[str],
    hash_col: str,
    p: int = 14,
    result_col: str = "hll",
) -> DataFrame:
    """Maintain one HLL sketch per group across micro-batches —
    streaming distinct counts (e.g. unique URLs per source in a crawl
    stream).  ``hash_col`` must be a NON-NULL int64 hash column
    (``xxhash64(col)`` upstream, masked for NULLs — the same family the
    batch engine uses, so emitted sketches merge with batch-built
    ones).  State is one 2^p-register sketch per key (16 KB at p=14)
    regardless of stream length.  Emits (keys..., hll binary,
    estimate long) on every update."""
    return _sketch_stage(stream_df, keys, _hll_spec(p), hash_col, result_col)


def streaming_countmin(
    stream_df: DataFrame,
    keys: Sequence[str],
    hash_col: str,
    width: int = 2048,
    depth: int = 5,
    result_col: str = "countmin",
) -> DataFrame:
    """Maintain one count-min sketch per group across micro-batches —
    streaming frequency estimates / heavy hitters (e.g. per-source URL
    frequencies in a crawl stream).  ``hash_col`` must be a NON-NULL
    int64 hash column (``xxhash64(col)`` upstream) — the same family
    the batch engine's ``countmin_sketch`` uses, and the table is a sum
    (order-independent), so a streaming-built sketch over the same
    rows is BYTE-IDENTICAL to the batch-built one and merges with it.
    State is one (depth × width) int64 table per key (~80 KB at the
    2048×5 default) regardless of stream length.  Emits
    (keys..., countmin binary, total long) on every update."""
    spec = _countmin_spec(width, depth)
    return _sketch_stage(stream_df, keys, spec, hash_col, result_col)


def streaming_kll(
    stream_df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    k: int = 200,
    result_col: str = "kll",
) -> DataFrame:
    """Maintain one KLL quantile sketch per group across micro-batches
    — streaming order statistics with rank-error guarantees that the
    t-digest form does not give (KLL's bound is distribution-free).
    State is one serialized sketch whose compactor budget is bounded by
    ``k`` (≈ 3k items worst case, ~5 KB at k=200) regardless of stream
    length; NaN/NULL values are dropped like the batch engine does.
    Emitted sketches merge with batch-built ``kll_sketch`` output
    (same wire format).  Emits (keys..., kll binary, n long) on every
    update."""
    return _sketch_stage(stream_df, keys, _kll_spec(k), value_col, result_col)


def streaming_topk(
    stream_df: DataFrame,
    keys: Sequence[str],
    item_col: str,
    m: int = 256,
    result_col: str = "topk",
) -> DataFrame:
    """Maintain one SpaceSaving top-k sketch per group across
    micro-batches — streaming heavy hitters WITH identities (count-min
    answers "how often is X?"; this answers "what are the top items?").
    State is ``m`` (item, count, error) counters regardless of stream
    length; every item with true frequency > N/m is retained, and the
    sketch is EXACT while distinct items stay ≤ m.  Items of any type
    are cast to string JVM-side (as ``topk_sketch`` does); NULL items
    are dropped like the batch engine does; emitted sketches share the
    batch ``topk_sketch`` wire format and merge with it.  Emits
    (keys..., topk binary, n long) on every update."""
    stream_df = stream_df.withColumn(item_col, F.col(item_col).cast("string"))
    return _sketch_stage(stream_df, keys, _topk_spec(m), item_col, result_col)


def streaming_windowed_tdigest(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str = "1 hour",
    keys: Sequence[str] = (),
    compression: int = 100,
    watermark_delay: str = "2 hours",
    digest_col: str = "digest",
    packed: bool = False,
    slide_duration: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide_duration``, sliding) event-time windowed digests with late-data handling
    (shared stage: ``_sketch_stage``).  Emits
    (keys..., window_start, digest, count) updates per batch.

    ``packed=True`` consumes the ``prereduce_windowed_values`` staging
    format (``value_col`` an ``array<double>``, ``ts_col`` the
    pre-truncated ``window_start``): counts match the unpacked path
    exactly; centroid layout (and so percentile estimates) stays inside
    the same q(1-q)/compression band but is not bit-identical, since
    t-digest merge-compression depends on ingest order."""
    return _sketch_stage(
        stream_df, keys, _tdigest_spec(compression), value_col, digest_col,
        _Window(ts_col, window_duration, watermark_delay, slide_duration, packed),
    )


def streaming_windowed_hll(
    stream_df: DataFrame,
    ts_col: str,
    hash_col: str,
    window_duration: str = "1 hour",
    keys: Sequence[str] = (),
    p: int = 14,
    watermark_delay: str = "2 hours",
    result_col: str = "hll",
    packed: bool = False,
    slide_duration: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide_duration``, sliding) event-time windowed HLL distinct counts (e.g. unique
    URLs per source per hour in a crawl stream) — the state-EXPIRING
    form of ``streaming_hll_distinct``: per-window sketches are evicted
    once the watermark passes the window end, so an unbounded key/time
    space cannot grow state without bound.  ``hash_col`` must be a
    NON-NULL int64 hash column (``xxhash64(col)`` upstream, same family
    as the batch engine, so emitted sketches merge with batch-built
    ones).  Emits (keys..., window_start, hll binary, estimate long).

    ``packed=True`` accepts the ``prereduce_windowed_hashes`` staging
    format instead: ``hash_col`` is an ``array<long>`` column and
    ``ts_col`` the pre-truncated ``window_start`` — a handful of fat
    rows per group per batch instead of one row per event, so the
    per-row JVM→Python exchange overhead (the measured per-box ceiling
    of the stateful forms, BENCH.md) amortizes across thousands of
    hashes.  HLL register updates are duplication- and
    order-insensitive, so estimates are IDENTICAL to the unpacked
    path's."""
    return _sketch_stage(
        stream_df, keys, _hll_spec(p), hash_col, result_col,
        _Window(ts_col, window_duration, watermark_delay, slide_duration, packed),
    )


def streaming_windowed_countmin(
    stream_df: DataFrame,
    ts_col: str,
    hash_col: str,
    window_duration: str = "1 hour",
    keys: Sequence[str] = (),
    width: int = 2048,
    depth: int = 5,
    watermark_delay: str = "2 hours",
    result_col: str = "countmin",
    packed: bool = False,
    slide_duration: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide_duration``, sliding) event-time windowed count-min frequency sketches — the
    state-EXPIRING form of ``streaming_countmin`` (shared stage:
    ``_sketch_stage``), for per-window heavy-hitter
    estimates over an unbounded key/time space.  Same non-null int64
    ``hash_col`` contract and wire format as the batch engine, so a
    window's sketch merges with batch-built ones.  Emits
    (keys..., window_start, countmin binary, total long).

    ``packed=True`` consumes the ``prereduce_windowed_hashes(...,
    with_counts=True)`` staging format — ``hash_col`` an
    ``array<long>`` plus a ``{hash_col}_counts`` sibling column and
    ``ts_col`` the pre-truncated ``window_start``.  Count-min is
    count-SENSITIVE, so the counts column is mandatory and the staging
    write must be idempotent (which ``prereduce_windowed_hashes``'s
    per-batch overwrite guarantees); totals then match the unpacked
    path exactly."""
    return _sketch_stage(
        stream_df, keys, _countmin_spec(width, depth), hash_col, result_col,
        _Window(ts_col, window_duration, watermark_delay, slide_duration, packed),
    )


def streaming_windowed_kll(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str = "1 hour",
    keys: Sequence[str] = (),
    k: int = 200,
    watermark_delay: str = "2 hours",
    result_col: str = "kll",
    packed: bool = False,
    slide_duration: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide_duration``, sliding) event-time windowed KLL quantile sketches — the
    state-EXPIRING form of ``streaming_kll`` (shared stage:
    ``_sketch_stage``).  NaN/NULL values are dropped like
    the batch engine; per-window sketches share the batch ``kll_sketch``
    wire format.  Emits (keys..., window_start, kll binary, n long).

    ``packed=True`` consumes the ``prereduce_windowed_values`` staging
    format (``value_col`` an ``array<double>``, ``ts_col`` the
    pre-truncated ``window_start``).  KLL folds are count-exact (``n``
    matches the unpacked path exactly); quantile estimates stay inside
    the same rank-error envelope but are not bit-identical — the packed
    ingest order is the staging's sorted order, and KLL's deterministic
    compaction depends on ingest order (kll.py:7-12)."""
    return _sketch_stage(
        stream_df, keys, _kll_spec(k), value_col, result_col,
        _Window(ts_col, window_duration, watermark_delay, slide_duration, packed),
    )


def streaming_windowed_topk(
    stream_df: DataFrame,
    ts_col: str,
    item_col: str,
    window_duration: str = "1 hour",
    keys: Sequence[str] = (),
    m: int = 256,
    watermark_delay: str = "2 hours",
    result_col: str = "topk",
    packed: bool = False,
    slide_duration: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide_duration``, sliding) event-time windowed SpaceSaving top-k — the
    state-EXPIRING form of ``streaming_topk`` (shared stage:
    ``_sketch_stage``): per-window heavy hitters WITH
    identities, exact while distinct items per window stay ≤ m.  Items
    are cast to string JVM-side and NULL items are dropped like the
    batch engine; per-window sketches share the batch ``topk_sketch``
    wire format.  Emits (keys..., window_start, topk binary, n long).

    ``packed=True`` consumes the ``prereduce_windowed_hashes(...,
    with_counts=True)`` staging format over the ITEM column
    (``item_col`` an item array plus an ``{item_col}_counts``
    sibling — the with_counts pack accepts any orderable item type, not
    just hashes).  Totals and the ≤ m-distinct exactness domain match
    the unpacked path; past m distinct items per (group, batch) the
    eviction order differs (pre-aggregated counts arrive item-sorted),
    but stays inside SpaceSaving's one-sided count guarantee — and the
    sorted staging makes it deterministic, which the row-order unpacked
    path is not."""
    stream_df = stream_df.withColumn(
        item_col, F.col(item_col).cast("array<string>" if packed else "string")
    )
    return _sketch_stage(
        stream_df, keys, _topk_spec(m), item_col, result_col,
        _Window(ts_col, window_duration, watermark_delay, slide_duration, packed),
    )


def _prereduce(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str,
    slide_duration: str | None,
    keys: Sequence[str],
    item,
    pack: Callable[[DataFrame], DataFrame],
    staging_dir: str,
    checkpoint_dir: str,
    out_partitions: int,
    query_name: str,
    trigger: dict,
):
    """Start the compact-and-write query both ``prereduce_windowed_*``
    writers share: per micro-batch, select (keys..., window_start,
    ``item``), ``pack`` it per (keys..., window_start) group, and
    overwrite ``staging_dir/batch=<id>`` with the result."""
    keys = list(keys)

    def compact(bdf, batch_id):
        # every pack runs an ObjectHashAggregate partial; keep it
        # hash-based past the 128-group default fallback
        # (bdf.sparkSession is the streaming query's cloned session, so
        # the conf change cannot leak to other queries)
        bdf.sparkSession.conf.set(_OBJ_AGG_THRESHOLD, "16384")
        win = bdf.select(
            *keys,
            _window_start_col(ts_col, window_duration, slide_duration).alias(
                "window_start"
            ),
            item,
        )
        # repartition, NOT coalesce: coalesce(1) would propagate into
        # the post-shuffle stage and run the pack aggregation itself
        # single-task (measured 8.5s/batch at 32M events); repartition
        # keeps the agg at full width and only exchanges the packed
        # rows (O(groups) fat rows) down to the write parallelism
        pack(win).repartition(out_partitions).write.mode("overwrite").parquet(
            f"{staging_dir}/batch={batch_id}"
        )

    writer = (
        stream_df.writeStream.foreachBatch(compact)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def prereduce_windowed_hashes(
    stream_df: DataFrame,
    ts_col: str,
    hash_col: str,
    window_duration: str,
    staging_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str] = (),
    with_counts: bool = False,
    out_partitions: int = 1,
    query_name: str = "prereduce_windowed_hashes",
    slide_duration: str | None = None,
    **trigger,
):
    """JVM-side micro-batch pre-reduction for the windowed streaming
    sketches — the stage that lifts the per-box ~4-5M rows/s
    JVM→Python Arrow-exchange ceiling (BENCH.md): Spark forbids a
    streaming aggregation upstream of ``applyInPandasWithState`` in one
    plan, so the pre-reduction runs as its own query.  Each micro-batch
    is compacted PURE-Catalyst — distinct (or per-hash counts when
    ``with_counts``) then packed per ``(keys..., window_start)`` group
    with ``collect_list`` — and written to ``staging_dir/batch=<id>``; no
    row of the raw stream ever crosses a Python exchange.  The
    downstream stateful query reads the staging stream (glob
    ``staging_dir/batch=*``) and folds with ``packed=True`` in
    ``streaming_windowed_hll`` / ``streaming_windowed_countmin`` /
    ``streaming_windowed_topk`` (the ``with_counts`` pack accepts any
    orderable item type, so it doubles as the top-k item staging; see
    ``prereduce_windowed_values`` for the value-shaped t-digest/KLL
    folds): rows crossing the exchange drop from O(events) to
    O(groups x batches), so the exchange overhead amortizes across
    each row's packed array.

    Exactly-once — for the SEQUENTIAL (availableNow) pattern only: a
    replayed micro-batch (failure/restart) re-derives the SAME
    compaction (file-source WAL pins the batch's files) and
    ``mode("overwrite")`` on its ``batch=<id>`` dir makes the re-write
    idempotent — safe for count-sensitive sketches, not just the
    duplication-insensitive HLL.  A CONCURRENT stage-2 reader tracks
    seen files by PATH, so an overwrite that renames part files can
    re-ingest a replayed batch (double counting) or delete files
    mid-scan; run stage 2 after stage 1 finishes, or make replays
    path-stable (write to a temp dir + deterministic rename) before
    overlapping them.  NULL hashes are dropped by
    ``collect_set``/``groupBy`` (the unpacked fold instead REJECTS a
    nullable hash column — keep the upstream non-null contract).

    Returns the started ``StreamingQuery``.  ``trigger`` kwargs pass
    through (e.g. ``availableNow=True``, ``processingTime="10
    seconds"``); ``out_partitions`` bounds the per-batch staging file
    count (compacted output is small — one row per live group).
    ``slide_duration`` stages SLIDING windows (each event packed into
    duration/slide overlapping groups); the packed fold then consumes
    the staged starts verbatim, so it needs no slide parameter of its
    own."""
    keys = list(keys)

    def pack(win):
        if with_counts:
            # count-sensitive staging: per-item exact counts need a
            # row-level count shuffle before the pack.  NULL items are
            # dropped explicitly (groupBy would keep a NULL group,
            # where the distinct branch's collect_set and the unpacked
            # folds' dropna both discard them).  The pack is
            # sorted (sort_array over (item, count) structs, then field
            # extraction — pure Catalyst) so the staged bytes are
            # independent of partition/batch traversal order:
            # count-min doesn't care, but the SpaceSaving top-k fold's
            # evictions are order-sensitive past m distinct items and
            # the repo's determinism contract covers it
            return (
                win.filter(F.col("_h").isNotNull())
                .groupBy(*keys, "window_start", "_h")
                .agg(F.count("*").alias("_c"))
                .groupBy(*keys, "window_start")
                .agg(
                    F.sort_array(
                        F.collect_list(F.struct("_h", "_c"))
                    ).alias("_p")
                )
                .select(
                    *keys,
                    "window_start",
                    F.col("_p._h").alias(hash_col),
                    F.col("_p._c").alias(f"{hash_col}_counts"),
                )
            )
        # ONE collect_set, not distinct-then-pack: the partial
        # ObjectHashAggregate dedups AND packs map-side, so the
        # shuffle carries one fat array row per (task x group)
        # instead of a record per distinct hash — measured 5.6s vs
        # 7.5s over a 32M-row batch set
        return win.groupBy(*keys, "window_start").agg(
            F.collect_set("_h").alias(hash_col)
        )

    return _prereduce(
        stream_df, ts_col, window_duration, slide_duration, keys,
        F.col(hash_col).alias("_h"), pack, staging_dir, checkpoint_dir,
        out_partitions, query_name, trigger,
    )


def prereduce_windowed_values(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str,
    staging_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str] = (),
    out_partitions: int = 1,
    query_name: str = "prereduce_windowed_values",
    slide_duration: str | None = None,
    **trigger,
):
    """Pack-only micro-batch pre-reduction for the VALUE-shaped
    windowed folds (``streaming_windowed_tdigest`` /
    ``streaming_windowed_kll`` with ``packed=True``): quantile sketches
    are count-sensitive, so unlike ``prereduce_windowed_hashes`` no
    dedup is possible — each micro-batch's values are packed verbatim
    into one ``array<double>`` row per ``(keys..., window_start)``
    group, pure Catalyst.  The shuffle still carries every value, but
    the O(events) per-row JVM→Python exchange term (the measured
    per-box stateful ceiling, BENCH.md) collapses to O(groups ×
    batches) fat rows.  ``sort_array`` makes the staged arrays — and so
    the downstream deterministic-compactor folds — independent of
    partition/batch traversal order (NULLs sort first and are dropped
    by ``collect_list`` anyway; NaNs sort last and are dropped by the
    folds, matching the unpacked path's NaN/NULL semantics).

    Same exactly-once contract as ``prereduce_windowed_hashes``:
    per-``batch=<id>`` overwrite makes replays idempotent."""
    keys = list(keys)

    def pack(win):
        return win.groupBy(*keys, "window_start").agg(
            F.sort_array(F.collect_list("_v")).alias(value_col)
        )

    return _prereduce(
        stream_df, ts_col, window_duration, slide_duration, keys,
        F.col(value_col).cast("double").alias("_v"), pack, staging_dir,
        checkpoint_dir, out_partitions, query_name, trigger,
    )


def read_packed_stream(spark, staging_dir: str, max_files_per_trigger=None,
                       schema=None):
    """Stream reader for a ``prereduce_windowed_*`` staging dir.  The
    glob treats each ``batch=<id>`` dir as a plain directory (no
    partition-column inference).  Without an explicit ``schema`` it is
    taken from the already-written files — so at least one staged batch
    must exist (always true for the sequential availableNow pattern);
    a CONCURRENT pipeline, where stage 2 starts before stage 1's first
    write, must pass the staging schema explicitly (keys... +
    ``window_start`` timestamp + the packed array column(s))."""
    if schema is None:
        schema = spark.read.parquet(f"{staging_dir}/batch=*").schema
    r = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return r.parquet(f"{staging_dir}/batch=*")



def write_batch_digests(
    batch_df: DataFrame,
    batch_id: int,
    keys: Sequence[str],
    value_col: str,
    compression: int,
    out_dir: str,
) -> None:
    """One micro-batch's per-group digests → the ``batch_id=``
    partition of a parquet table.  Idempotent per batch: foreachBatch
    re-runs a batch whose write finished but whose offset commit did
    not — a plain append would then double-count every value in that
    batch at rollup.  Dynamic partition overwrite replaces exactly this
    batch_id's partition on re-run."""
    if batch_df.isEmpty():
        return
    from pyspark.sql import functions as F

    from tdigest_spark.spark.tdigest_agg import tdigest

    dig = tdigest(batch_df, value_col, compression, keys=list(keys))
    (
        dig.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def foreach_batch_union(
    stream_df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    compression: int,
    out_dir: str,
    checkpoint_dir: str,
):
    """Simpler micro-batch pattern: each batch writes its per-group
    digests to its own ``batch_id=`` partition of a parquet table
    (dynamic partition overwrite, so batch replays are idempotent);
    roll up at read time with ``tdigest_union_agg``.  Restart-safe via
    the streaming checkpoint."""
    keys = list(keys)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_digests(batch_df, batch_id, keys, value_col, compression, out_dir)

    return (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
