"""Arrow-native partial-aggregation engine (mapInArrow).

The engine consumes raw Arrow RecordBatches, never pandas:

* key columns become integer codes in C (pyarrow dictionary encoding,
  or the values themselves for small-range integer keys) — Python sees
  one object per DISTINCT key
* each batch is grouped once (``_group_rows``): a bincount scan for few
  groups, else a stable argsort of the packed codes, giving the rows of
  every group as one permutation plus group bounds
* the sketch then folds the whole grouped batch (the batch sketch
  protocol below): t-digest folds, merges and encodes all groups in
  one segmented NumPy pass; the other sketches run their per-group
  fold behind one adapter

so the per-row path is entirely C/NumPy, for keys as well as values.

The merge/finalize stage repartitions by key, concatenates a task's
partial sketches into one batch and reuses the same grouping and batch
protocol (one output row per group, no per-group pandas overhead).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

GROUP_SENTINEL = "__sketch_group__"
SKETCH_COL = "__sketch__"

# a global (no-key) aggregate funnels one partial per input partition
# into a single merge task; beyond this many partials, bounded fan-in
# merge rounds are inserted automatically (~1.6 kB per t-digest partial
# → one task never folds more than ~400 kB of sketches per round)
MERGE_FANOUT = 256

# native-scan fast path: when the partial phase's input is a pure
# column projection over a parquet relation, each Spark task reads its
# file/row-group split directly with pyarrow instead of pulling rows
# through the JVM row pipeline + Python socket.  Same plan shape
# (scan → partial → shuffle digests → merge), ~10-20× faster scan-side:
# Spark's per-row InternalRow → Arrow re-encode moves ~10× more bytes
# than the columnar decode itself.  Opt out with
# SPARK_GRAFT_NATIVE_SCAN=0 (e.g. if input lives on a filesystem the
# Python workers cannot reach by path).
NATIVE_SCAN = os.environ.get("SPARK_GRAFT_NATIVE_SCAN", "1") != "0"
# target split weight when bundling row groups of few large files
SPLIT_BYTES = 64 << 20
# sub-row-group row-range splitting for under-parallel plans (opt out
# with SPARK_GRAFT_SUBSPLIT=0, e.g. for A/B measurement)
_SUBSPLIT = os.environ.get("SPARK_GRAFT_SUBSPLIT", "1") != "0"
# above this many files, skip driver-side footer reads and map
# one split per file (footers would serialize the driver)
MAX_FOOTER_READS = 4096

# memoized piece plans per (file list, residual conjuncts): several
# aggregates over the same table must not re-read every footer on the
# driver.  Parquet files are immutable by convention (Spark's own
# FileIndex caches on the same assumption).
_PIECE_CACHE: dict = {}
_PIECE_CACHE_MAX = 64


def record_batch_exact(cols: dict, schema_pa: "pa.Schema") -> "pa.RecordBatch":
    """``RecordBatch.from_pydict`` that preserves instants for tz-aware
    timestamp fields.

    pyarrow's python-datetime conversion with an explicit
    ``timestamp(tz=...)`` target takes the naive WALL time and ignores
    the source tzinfo entirely (pa.array([aware_dt],
    type=timestamp('us', tz='UTC')) re-labels the wall clock as UTC),
    so session-localized group keys round-tripped through
    ``to_pylist()`` would shift by the session offset once per pipeline
    stage.  Tz-aware fields are therefore built from exact
    epoch-microsecond integers (integer calendar arithmetic, no float
    rounding)."""
    import calendar
    import datetime as _dt

    arrays = []
    for field in schema_pa:
        vals = cols[field.name]
        t = field.type
        if isinstance(vals, pa.Array):
            arrays.append(vals if vals.type == t else vals.cast(t))
        elif pa.types.is_timestamp(t) and t.tz is not None:
            micros = []
            for v in vals:
                if v is None:
                    micros.append(None)
                    continue
                if v.tzinfo is None:
                    # a naive value here means the instant is already
                    # ambiguous — refuse rather than guess an offset
                    raise ValueError(
                        f"naive datetime for tz-aware field {field.name!r}"
                    )
                u = v.astimezone(_dt.timezone.utc)
                micros.append(
                    calendar.timegm(u.timetuple()) * 1_000_000 + u.microsecond
                )
            arrays.append(pa.array(micros, type=t))
        else:
            arrays.append(pa.array(vals, type=t))
    return pa.RecordBatch.from_arrays(arrays, schema=schema_pa)


def _key_schema(df: DataFrame, keys: Sequence[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [by_name[k] for k in keys]


def _column_views(batch: pa.RecordBatch, inputs: Sequence[str]):
    """Inputs stay pyarrow Arrays; each fold converts as it needs
    (to_numpy for floats, drop_null for int64 hashes — exact, never via
    float64 — to_pylist only for binary sketch columns)."""
    return {
        name: batch.column(batch.schema.get_field_index(name)) for name in inputs
    }


# packed radix codes must stay inside int64; past this the grouping
# falls back to a stable lexsort over per-key codes
_RADIX_MAX = 1 << 62

# low-cardinality slicing: when the radix bound is small, a bincount +
# one boolean scan per distinct code replaces the stable argsort —
# O(k·n) SIMD passes beat the O(n log n) gather, and the row order per
# group (ascending row index) is identical to the stable sort's
_BINCOUNT_MAX = 4096
_SCAN_MAX_GROUPS = 128


def _decode_key(code: int, radix, dicts) -> tuple:
    key = []
    for i in reversed(range(len(radix))):
        c = code % radix[i]
        code //= radix[i]
        key.append(None if c == 0 else dicts[i][c - 1])
    return tuple(reversed(key))


def _group_rows(batch: pa.RecordBatch, keys: Sequence[str]):
    """Group a batch by ``keys`` with only O(#distinct) Python objects:
    returns ``(group_keys, rows, bounds)`` where group g holds rows
    ``rows[bounds[g]:bounds[g+1]]`` in ascending row order (``rows`` is
    None when the batch order already is the grouped order, i.e. one
    group or none)."""
    n = batch.num_rows
    if not keys:
        return [(0,)], None, np.array([0, n])
    if n == 0:
        # keyed aggregate over an empty batch has no groups; the radix
        # boundary arithmetic below would index into an empty array
        return [], None, np.zeros(1, dtype=np.int64)
    from tdigest_spark.kernel.arrownp import arrow_ints

    code_arrays = []
    dicts = []
    for k in keys:
        col = batch.column(batch.schema.get_field_index(k))
        if isinstance(col, pa.ChunkedArray):  # pragma: no cover
            col = col.combine_chunks()
        if pa.types.is_integer(col.type):
            # small-range integer keys (enum-ish group columns): the
            # values are their own codes after a min shift — one SIMD
            # min/max pass + a subtract beats the hash-based
            # dictionary_encode ~5x on 1M-row batches
            import pyarrow.compute as pc

            mm = pc.min_max(col)
            mn = mm["min"].as_py()
            mx = mm["max"].as_py()
            if mn is not None and (mx - mn) < 2048 and -(1 << 62) < mn and mx < 1 << 62:
                # widen first: the null slot mn - 1 may not fit the
                # column's own type (int8 -128 → -129)
                code_arrays.append(
                    arrow_ints(col.cast(pa.int64()), fill=mn - 1) - (mn - 1)
                )
                dicts.append(list(range(mn, mx + 1)))
                continue
        dcol = col.dictionary_encode()
        # nulls in keys → code -1 → shift to a dedicated slot; the
        # fill_null + zero-copy route avoids pyarrow's pandas fallback
        # (a ~0.18 s pandas import on every fresh python worker)
        code_arrays.append(arrow_ints(dcol.indices, fill=-1) + 1)
        dicts.append(dcol.dictionary.to_pylist())
    radix = [len(d) + 1 for d in dicts]
    total = 1
    for r in radix:
        total *= r  # python int: exact, no wraparound
    if total >= _RADIX_MAX:
        # the packed radix code would overflow int64 (only reachable
        # with many wide keys in one batch) — group by stable lexsort
        # over the per-key codes instead of a packed code
        order = np.lexsort(tuple(reversed(code_arrays)))
        sorted_cols = [c[order] for c in code_arrays]
        diff = np.zeros(n - 1, dtype=bool)
        for c in sorted_cols:
            np.logical_or(diff, c[:-1] != c[1:], out=diff)
        bounds = np.concatenate(([0], np.flatnonzero(diff) + 1, [n]))
        group_keys = [
            tuple(
                None if int(col[s]) == 0 else dicts[i][int(col[s]) - 1]
                for i, col in enumerate(sorted_cols)
            )
            for s in bounds[:-1].tolist()
        ]
        return group_keys, order, bounds
    codes = code_arrays[0]
    for i in range(1, len(keys)):
        codes = codes * radix[i] + code_arrays[i]
    if total <= _BINCOUNT_MAX:
        cnt = np.bincount(codes, minlength=total)
        nz = np.flatnonzero(cnt)
        if nz.size == 1:
            # whole batch is one group: no gather at all
            return [_decode_key(int(nz[0]), radix, dicts)], None, np.array([0, n])
        if nz.size <= _SCAN_MAX_GROUPS:
            return (
                [_decode_key(int(code), radix, dicts) for code in nz],
                np.concatenate([np.flatnonzero(codes == code) for code in nz]),
                np.concatenate(([0], np.cumsum(cnt[nz]))),
            )
    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    bounds = np.concatenate(([0], np.flatnonzero(np.diff(sorted_codes)) + 1, [n]))
    return (
        [_decode_key(int(c), radix, dicts) for c in sorted_codes[bounds[:-1]]],
        order,
        bounds,
    )


def _group_slices(batch: pa.RecordBatch, keys: Sequence[str]):
    """Yield (key_tuple, row_index_array) per distinct key combo (rows
    None = all rows)."""
    group_keys, rows, bounds = _group_rows(batch, keys)
    for g, key in enumerate(group_keys):
        yield key, None if rows is None else rows[bounds[g]:bounds[g + 1]]


# ----------------------------------------------------------------------
# batch sketch protocol
#
# The engine hands a sketch whole batches: every callable below has a
# per-group form (what a sketch module writes) and a batch form.  A
# sketch may attach its own batch form as ``fn.batch`` (t-digest does:
# tdigest_agg); the others get the per-group adapter here.
#   fold:      fold(state, **{col: pa.Array})
#              .batch(states, cols, rows, bounds)
#   serialize: serialize(state) -> bytes | None
#              .batch(states) -> list | pa.Array
#   finalize:  finalize(blobs: list[bytes]) -> tuple
#              .batch(blobs: pa.Array, rows, bounds) -> list of columns
# ``rows``/``bounds`` are :func:`_group_rows`' output for the batch.
# ----------------------------------------------------------------------
def _fold_each(fold):
    def fold_batch(states, cols, rows, bounds):
        for g, st in enumerate(states):
            lo, hi = int(bounds[g]), int(bounds[g + 1])
            if rows is None:
                fold(st, **{n: c.slice(lo, hi - lo) for n, c in cols.items()})
            else:
                idx = pa.array(rows[lo:hi])
                fold(st, **{n: c.take(idx) for n, c in cols.items()})

    return fold_batch


def _serialize_each(serialize):
    return lambda states: [serialize(st) for st in states]


def _finalize_each(process):
    def finalize_batch(blobs, rows, bounds):
        py = blobs.to_pylist()
        order = range(len(py)) if rows is None else rows.tolist()
        tails = [
            process([py[r] for r in order[lo:hi] if py[r] is not None])
            for lo, hi in zip(bounds[:-1].tolist(), bounds[1:].tolist())
        ]
        return [list(col) for col in zip(*tails)]

    return finalize_batch


def _batch(fn, adapter):
    return getattr(fn, "batch", None) or adapter(fn)


def _merge_bytes_process(merge_bytes):
    """Finalizer of an intermediate (salt / fan-in) merge round: the
    merged sketch per group, NULL for a group of only NULL sketches."""

    def process(blobs):
        return (merge_bytes(blobs) if blobs else None,)

    if hasattr(merge_bytes, "batch"):
        process.batch = lambda blobs, rows, bounds: [merge_bytes.batch(blobs, rows, bounds)]
    return process


def fold_group_batches(batches, keys, inputs, new_state, fold, states=None):
    """Fold RecordBatches into per-group sketch states — the one
    group/fold loop shared by the mapInArrow partial phase and the
    native-scan split reader: each batch is grouped once and folded
    with the sketch's batch fold.  Pass ``states`` to accumulate across
    multiple batch iterators."""
    states = {} if states is None else states
    fold_batch = _batch(fold, _fold_each)
    for batch in batches:
        group_keys, rows, bounds = _group_rows(batch, keys)
        group_states = []
        for key in group_keys:
            st = states.get(key)
            if st is None:
                st = states[key] = new_state()
            group_states.append(st)
        if group_states:
            fold_batch(group_states, _column_views(batch, inputs), rows, bounds)
    return states


def _partials_batch(states: dict, key_names, serialize, out_schema) -> pa.RecordBatch:
    """One output row per group: its key columns and serialized sketch."""
    cols = {k: [key[i] for key in states] for i, k in enumerate(key_names)}
    cols[SKETCH_COL] = _batch(serialize, _serialize_each)(list(states.values()))
    return record_batch_exact(cols, out_schema)


def _one_batch(batches) -> pa.RecordBatch | None:
    """All rows of a task's batches as one RecordBatch (None when there
    are none), the sketch column widened to large_binary so a task's
    concatenated sketches may pass 2 GiB."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return None
    tbl = pa.Table.from_batches(batches)
    i = tbl.schema.get_field_index(SKETCH_COL)
    tbl = tbl.set_column(i, SKETCH_COL, tbl.column(i).cast(pa.large_binary()))
    return tbl.combine_chunks().to_batches()[0]


def _jcls(obj) -> str:
    return obj.getClass().getName().rsplit(".", 1)[-1]


_NUMERIC_CASTS = {
    "double", "float", "int", "bigint", "smallint", "tinyint", "decimal",
}


_CMP_OPS = {
    "EqualTo": "eq",
    "LessThan": "lt",
    "LessThanOrEqual": "le",
    "GreaterThan": "gt",
    "GreaterThanOrEqual": "ge",
}
_LIT_TYPES = {
    "string", "int", "bigint", "smallint", "tinyint", "double", "float",
    "boolean",
}


def _coerce_literal(ddl: str, v):
    """JVM literal value → python value for a supported ddl; Ellipsis
    when it cannot be represented faithfully."""
    if v is None:
        return None
    if ddl == "string":
        return str(v)
    if ddl in ("double", "float"):
        v = float(v)
        # Spark orders NaN = NaN as true; Arrow never matches NaN —
        # a NaN literal must stay on the Catalyst path
        return ... if v != v else v
    if ddl == "boolean":
        return bool(v)
    return int(v)


def _native_literal(e):
    """Literal → python value, or ... (Ellipsis) when unsupported."""
    ddl = e.dataType().simpleString()
    if ddl not in _LIT_TYPES:
        return ...
    return _coerce_literal(ddl, e.value())


def _native_predicate(e):
    """Translate a Catalyst predicate into a picklable AST the pyarrow
    reader can evaluate (('col', name) / ('lit', v) leaves; and/or/not,
    comparisons, is[not]null, in).  Returns None when any node falls
    outside the allow-list (→ Catalyst fallback)."""
    ecls = _jcls(e)
    if ecls in _CMP_OPS:
        l, r = e.left(), e.right()
        if _jcls(l) == "AttributeReference" and _jcls(r) == "Literal":
            v = _native_literal(r)
            return None if v is ... else (_CMP_OPS[ecls], ("col", l.name()), ("lit", v))
        if _jcls(l) == "Literal" and _jcls(r) == "AttributeReference":
            v = _native_literal(l)
            if v is ...:
                return None
            flipped = {"lt": "gt", "le": "ge", "gt": "lt", "ge": "le", "eq": "eq"}
            return (flipped[_CMP_OPS[ecls]], ("col", r.name()), ("lit", v))
        return None
    if ecls in ("And", "Or"):
        l = _native_predicate(e.left())
        r = _native_predicate(e.right())
        if l is None or r is None:
            return None
        return (ecls.lower(), l, r)
    if ecls == "Not":
        inner = _native_predicate(e.child())
        return None if inner is None else ("not", inner)
    if ecls == "IsNotNull":
        c = e.child()
        if _jcls(c) != "AttributeReference":
            return None
        return ("notnull", ("col", c.name()))
    if ecls == "IsNull":
        c = e.child()
        if _jcls(c) != "AttributeReference":
            return None
        return ("isnull", ("col", c.name()))
    if ecls == "In":
        c = e.value()
        if _jcls(c) != "AttributeReference":
            return None
        vals = []
        lst = e.list()
        for i in range(lst.size()):
            item = lst.apply(i)
            if _jcls(item) != "Literal":
                return None
            v = _native_literal(item)
            if v is ... or v is None:
                # x IN (…, NULL) is NULL for non-matches — Catalyst path
                return None
            vals.append(v)
        return ("in", ("col", c.name()), vals)
    if ecls == "InSet":
        c = e.child()
        if _jcls(c) != "AttributeReference":
            return None
        ddl = c.dataType().simpleString()
        if ddl not in _LIT_TYPES:
            return None
        vals = []
        it = e.hset().iterator()
        while it.hasNext():
            v = _coerce_literal(ddl, it.next())
            if v is ... or v is None:
                return None  # NULL/NaN in the IN-list: Catalyst path
            vals.append(v)
        return ("in", ("col", c.name()), vals)
    return None


def _predicate_columns(node) -> set:
    if node[0] == "col":
        return {node[1]}
    if node[0] == "lit":
        return set()
    if node[0] == "in":
        return _predicate_columns(node[1])
    return set().union(*(_predicate_columns(c) for c in node[1:] if isinstance(c, tuple)))


def _flatten_and(node):
    if node[0] == "and":
        return _flatten_and(node[1]) + _flatten_and(node[2])
    return [node]


import operator as _op

_PY_CMP = {"eq": _op.eq, "lt": _op.lt, "le": _op.le, "gt": _op.gt, "ge": _op.ge}


def _py_eval(node, env):
    """Evaluate a predicate AST over scalar values (partition columns)
    with SQL three-valued logic; returns True/False/None."""
    kind = node[0]
    if kind == "lit":
        return node[1]
    if kind == "col":
        return env[node[1]]
    if kind in _PY_CMP:
        l, r = _py_eval(node[1], env), _py_eval(node[2], env)
        if l is None or r is None:
            return None
        return _PY_CMP[kind](l, r)
    if kind == "and":
        l, r = _py_eval(node[1], env), _py_eval(node[2], env)
        if l is False or r is False:
            return False
        if l is None or r is None:
            return None
        return True
    if kind == "or":
        l, r = _py_eval(node[1], env), _py_eval(node[2], env)
        if l is True or r is True:
            return True
        if l is None or r is None:
            return None
        return False
    if kind == "not":
        v = _py_eval(node[1], env)
        return None if v is None else not v
    if kind == "isnull":
        return _py_eval(node[1], env) is None
    if kind == "notnull":
        return _py_eval(node[1], env) is not None
    if kind == "in":
        v = _py_eval(node[1], env)
        return None if v is None else v in node[2]
    raise ValueError(f"bad predicate node {node!r}")


def _pc_eval(node, columns):
    """Evaluate a predicate AST to an Arrow boolean mask over a batch
    (SQL kleene semantics; filter treats null as drop)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    kind = node[0]
    if kind == "lit":
        return pa.scalar(node[1])
    if kind == "col":
        return columns[node[1]]
    if kind in ("eq", "lt", "le", "gt", "ge"):
        fn = {"eq": pc.equal, "lt": pc.less, "le": pc.less_equal,
              "gt": pc.greater, "ge": pc.greater_equal}[kind]
        l = _pc_eval(node[1], columns)
        r = _pc_eval(node[2], columns)
        m = fn(l, r)
        if kind in ("gt", "ge"):
            # Spark's total order puts NaN above every value (NaN > lit
            # and NaN >= lit are TRUE); Arrow comparisons yield false
            # for NaN — patch the mask for float columns.  (The AST
            # normalizes the literal to the right side, and NaN
            # literals bail at translation, so only the left operand
            # can carry NaN.)
            t = getattr(l, "type", None)
            if t is not None and pa.types.is_floating(t):
                m = pc.or_kleene(m, pc.is_nan(l))
        return m
    if kind == "and":
        return pc.and_kleene(_pc_eval(node[1], columns), _pc_eval(node[2], columns))
    if kind == "or":
        return pc.or_kleene(_pc_eval(node[1], columns), _pc_eval(node[2], columns))
    if kind == "not":
        return pc.invert(_pc_eval(node[1], columns))
    if kind == "isnull":
        return pc.is_null(_pc_eval(node[1], columns))
    if kind == "notnull":
        return pc.is_valid(_pc_eval(node[1], columns))
    if kind == "in":
        v = _pc_eval(node[1], columns)
        t = getattr(v, "type", None)
        if t is not None and pa.types.is_floating(t):
            # Arrow's hash-based is_in distinguishes -0.0 from 0.0;
            # Spark's IN treats them equal.  Promote to float64 (exact)
            # and add 0.0 on both sides — IEEE addition maps -0.0 to
            # +0.0 and leaves every other value (incl. NaN, null)
            # unchanged
            probe = pc.add(pc.cast(v, pa.float64()), pa.scalar(0.0))
            vals = pc.add(pa.array(node[2], type=pa.float64()), pa.scalar(0.0))
            m = pc.is_in(probe, value_set=vals)
        else:
            m = pc.is_in(v, value_set=pa.array(node[2]))
        # SQL: NULL IN (...) is NULL (so NOT IN drops it); Arrow's
        # is_in yields false for null inputs — restore the null
        return pc.if_else(pc.is_valid(v), m, pa.scalar(None, pa.bool_()))
    raise ValueError(f"bad predicate node {node!r}")


_INT_WIDTH = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}


def _cast_is_safe(src_ddl: str, dst_ddl: str) -> bool:
    """Only value-preserving casts are pushed down: pyarrow's safe cast
    RAISES where Spark's cast truncates (double→int) or nulls out
    (string→double, overflow), so narrowing/parsing casts must stay on
    the Catalyst path."""
    if dst_ddl in ("double", "float"):
        return src_ddl in _INT_WIDTH or src_ddl in ("float", "double")
    if dst_ddl in _INT_WIDTH:
        return src_ddl in _INT_WIDTH and _INT_WIDTH[src_ddl] <= _INT_WIDTH[dst_ddl]
    return False


def _native_expr(e):
    """Translate a small allow-list of projected expressions to a
    (source_column, op) pair the pyarrow reader can evaluate:
    value-preserving numeric casts and string length().  Anything else
    → None (default path)."""
    ecls = _jcls(e)
    if ecls == "Cast":
        src = e.child()
        ddl = e.dataType().simpleString()
        if ddl.split("(")[0] not in _NUMERIC_CASTS:
            return None
        if _jcls(src) == "AttributeReference":
            if not _cast_is_safe(src.dataType().simpleString(), ddl):
                return None
            return (src.name(), ("cast", ddl))
        inner = _native_expr(src)
        if inner is not None and inner[1] is not None and inner[1][0] == "length":
            # cast(length(s) as double) — the flagship projection
            if not _cast_is_safe("int", ddl):
                return None
            return (inner[0], ("length", ddl))
        return None
    if ecls == "Length":
        src = e.child()
        if (
            _jcls(src) == "AttributeReference"
            and src.dataType().simpleString() == "string"
        ):
            return (src.name(), ("length", "int"))
        return None
    return None


def _native_parquet_splits(df: DataFrame, needed: Sequence[str]):
    """Return ``(splits, col_map)`` when ``df`` is a pure column
    projection (plain attributes, or numeric casts of attributes) over
    one parquet relation on a locally reachable filesystem — the shape
    where the Python workers can scan the files directly.  ``splits``
    is a list of bundles, each a list of (path, row_groups) entries
    where row_groups is a tuple of group indices or None for the whole
    file; ``col_map`` maps each needed output column to
    (source_column, op) with op None | ("cast", ddl) | ("length", ddl)
    | ("partition", ddl).
    Simple filters (comparisons / null checks / IN over columns and
    literals, AND/OR/NOT) are pushed down: partition-column conjuncts
    prune whole files on the driver, the rest evaluate as Arrow
    compute masks per batch in the reader.  Returns None whenever
    anything (joins, exotic expressions or filter shapes, non-file
    scheme) requires the default Catalyst-planned scan."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        kind = _jcls(plan)
        col_map: dict[str, tuple[str, tuple | None]] = {}
        attr_types: dict[str, str] = {}
        predicate = None
        if kind == "Project":
            pl = plan.projectList()
            for i in range(pl.size()):
                e = pl.apply(i)
                ecls = _jcls(e)
                if ecls == "AttributeReference":
                    col_map[e.name()] = (e.name(), None)
                    attr_types[e.name()] = e.dataType().simpleString()
                elif ecls == "Alias":
                    expr = _native_expr(e.child())
                    if expr is None:
                        return None
                    col_map[e.name()] = expr
                else:
                    return None
            rel = plan.child()
        elif kind in ("LogicalRelation", "Filter"):
            rel = plan
        else:
            return None
        if _jcls(rel) == "Filter":
            predicate = _native_predicate(rel.condition())
            if predicate is None:
                return None
            rel = rel.child()
        if _jcls(rel) != "LogicalRelation":
            return None
        relation = rel.relation()
        if "HadoopFsRelation" not in relation.getClass().getName():
            return None
        if relation.fileFormat().toString() != "Parquet":
            return None
        # hive-layout partition columns live in directory names; the
        # reader synthesizes them per file (plain attributes only —
        # casts/exprs of a partition column fall back to Catalyst)
        pschema = relation.partitionSchema()
        part_cols: dict[str, str] = {}
        for i in range(pschema.size()):
            f = pschema.apply(i)
            part_cols[f.name()] = f.dataType().simpleString()
        if not col_map:  # no Project: every relation column passes through
            out = rel.output()
            for i in range(out.size()):
                a = out.apply(i)
                col_map[a.name()] = (a.name(), None)
                attr_types[a.name()] = a.dataType().simpleString()
        for name, (src, op) in list(col_map.items()):
            if src in part_cols:
                # plain attributes of string/int/float/bool partitions
                # only — date/timestamp/decimal path values would need
                # Spark's exact parsing rules (Catalyst path handles)
                if op is not None or name != src:
                    return None
                if part_cols[src] not in _LIT_TYPES:
                    return None
                col_map[name] = (src, ("partition", part_cols[src]))
        if predicate is not None and any(
            c in part_cols and part_cols[c] not in _LIT_TYPES
            for c in _predicate_columns(predicate)
        ):
            return None
        if not set(needed) <= set(col_map):
            return None
        # timestamp data columns stay on the Catalyst path: pyarrow
        # yields tz-naive UTC wall times and createDataFrame on the
        # partials RDD re-interprets naive datetimes in the SESSION
        # timezone, so a non-UTC session would shift emitted key
        # instants relative to the Catalyst scan.  (Partition columns
        # are already gated to _LIT_TYPES above; predicate-only
        # timestamp columns never surface values, and comparisons
        # against timestamp literals already bail in _native_literal.)
        if any(
            attr_types.get(c, "").startswith("timestamp") for c in needed
        ):
            return None
        # filter columns: partition-only conjuncts prune files below;
        # the rest are evaluated per batch and their data columns must
        # be read even when the projection drops them
        pred_part: dict[str, str] = {}
        pred_data: list[str] = []
        part_conjuncts: list = []
        batch_conjuncts: list = []
        if predicate is not None:
            for cj in _flatten_and(predicate):
                cols = _predicate_columns(cj)
                if cols and cols <= set(part_cols):
                    part_conjuncts.append(cj)
                else:
                    batch_conjuncts.append(cj)
            for c in _predicate_columns(predicate):
                if c in part_cols:
                    pred_part[c] = part_cols[c]
                elif c not in pred_data:
                    pred_data.append(c)
        files = list(relation.location().inputFiles())
        if not files:
            return None
        paths = []
        for f in files:
            if f.startswith("file:"):
                f = f[len("file:"):]
                while f.startswith("//"):
                    f = f[1:]
            elif "://" in f or f.startswith("hdfs:"):
                return None  # non-local scheme: default path handles it
            paths.append(f)
        if part_conjuncts:
            # partition pruning: drop files whose hive path values fail
            # any partition-only conjunct (SQL semantics: unknown drops)
            kept = []
            pcols = set().union(*(_predicate_columns(c) for c in part_conjuncts))
            for p in paths:
                env = {c: _hive_partition_value(p, c, part_cols[c]) for c in pcols}
                if all(_py_eval(cj, env) is True for cj in part_conjuncts):
                    kept.append(p)
            paths = kept
        batch_predicate = None
        for cj in batch_conjuncts:
            batch_predicate = (
                cj if batch_predicate is None else ("and", batch_predicate, cj)
            )
    except Exception:  # noqa: BLE001 — any introspection surprise: default path
        return None

    # atomic pieces: (path, row_groups_or_None, est_bytes); None = whole
    # file (footer not read — beyond MAX_FOOTER_READS).  The memo key
    # includes every file's (size, mtime): an os.stat is microseconds
    # while a footer read is real I/O, and it makes in-place overwrites
    # (same path, new data) invalidate the cached plan instead of
    # serving stale row-group lists.
    try:
        sigs = []
        for p in paths:
            st = os.stat(p)
            sigs.append((p, st.st_size, st.st_mtime_ns))
    except OSError:
        return None
    # key on the FULL signature tuple — a 64-bit hash() collision between
    # two different file sets would silently serve the wrong split plan;
    # at <=64 retained entries the extra memory is trivial.  Parallelism
    # is part of the key because the adaptive split weight below derives
    # from it.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    cache_key = (tuple(sigs), repr(batch_conjuncts), parallelism)
    cached = _PIECE_CACHE.get(cache_key)
    if cached is not None:
        pieces = cached
        return _bundle_pieces(df, pieces, col_map, needed, batch_predicate, pred_part, pred_data)
    pieces: list[tuple[str, tuple | None, int, tuple | None]] = []
    if len(paths) > MAX_FOOTER_READS:
        for p, size, _ in sigs:
            pieces.append((p, None, size, None))
    else:
        import pyarrow.parquet as pq

        # physical columns every file must carry (projection sources +
        # residual-predicate data columns)
        _, phys_sources = native_scan_ops(
            {c: col_map[c] for c in needed}, needed, pred_data
        )
        file_rgs: list[tuple[str, list[tuple[int, int]]]] = []
        total_bytes = 0
        for p in paths:
            try:
                md = pq.ParquetFile(p).metadata
            except Exception:  # noqa: BLE001
                return None
            col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if any(s not in col_idx for s in phys_sources):
                # schema evolution: an older file lacks a requested
                # column.  Spark's scan fills missing columns with
                # nulls; the native reader does not, so this table
                # stays on the Catalyst path.
                return None
            kept: list[tuple[int, int, int]] = []
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                # row-group statistics pruning: skip a group when a
                # comparison/IN conjunct cannot match its min/max bounds
                # (parquet bounds are conservative under truncation)
                if batch_conjuncts and not all(
                    _rg_maybe_matches(rg, cj, col_idx) for cj in batch_conjuncts
                ):
                    continue
                kept.append((g, rg.total_byte_size, rg.num_rows))
                total_bytes += rg.total_byte_size
            file_rgs.append((p, kept))
        # scale-adaptive split weight (guide §2.2/§6: derive partition
        # count from input size, not a constant): small inputs split down
        # to single row groups so every core gets work; huge inputs cap
        # at SPLIT_BYTES so task counts stay bounded.  A few-row-group
        # file (e.g. one 6-row-group 600 MB table) would otherwise bundle
        # into 2-3 tasks and leave the rest of the executor idle.
        eff = min(SPLIT_BYTES, max(1 << 20, total_bytes // (2 * parallelism)))
        for p, kept in file_rgs:
            acc, rows, run = 0, 0, []
            for g, gbytes, grows in kept:
                run.append(g)
                acc += gbytes
                rows += grows
                if acc >= eff:
                    pieces.append((p, tuple(run), acc, rows))
                    run, acc, rows = [], 0, 0
            if run:
                pieces.append((p, tuple(run), acc, rows))
        if _SUBSPLIT and 0 < len(pieces) < parallelism:
            # row-group granularity left cores IDLE (fewer pieces than
            # the executor width): sub-split pieces by ROW RANGE, aiming
            # for ~one task wave total — a second wave of Python tasks
            # costs more than it balances (measured +0.3 s at 64 vs 32
            # tasks on the 32-file flagship).  A range task decodes its
            # piece's batch stream up to the range end and folds only
            # its own rows; the duplicated prefix decode is a fraction
            # of the fold cost it parallelizes.
            want = -(-parallelism // len(pieces))  # ceil
            subbed = []
            for p, rgs, sz, prows in pieces:
                nsub = min(4, want, max(1, round(sz / max(1, eff))))
                if nsub < 2 or prows < nsub * _BATCH_MIN_ROWS:
                    subbed.append((p, rgs, sz, None))
                    continue
                bounds = [prows * i // nsub for i in range(nsub + 1)]
                for lo, hi in zip(bounds, bounds[1:]):
                    subbed.append((p, rgs, sz // nsub, (lo, hi)))
            pieces = subbed
        else:
            pieces = [(p, rgs, sz, None) for p, rgs, sz, _rows in pieces]

    if len(_PIECE_CACHE) >= _PIECE_CACHE_MAX:
        _PIECE_CACHE.pop(next(iter(_PIECE_CACHE)))
    _PIECE_CACHE[cache_key] = pieces
    return _bundle_pieces(df, pieces, col_map, needed, batch_predicate, pred_part, pred_data)


def _bundle_pieces(df, pieces, col_map, needed, batch_predicate, pred_part, pred_data):
    # bundle pieces into ~parallelism tasks: a SECOND wave of Python
    # tasks costs ~0.3 s of pure dispatch on a 32-core box (measured,
    # 64 vs 32 no-op tasks), which outweighs the balance it buys —
    # first-fit-decreasing over known piece sizes balances one wave
    # well.  Huge inputs still fan out past one wave via the
    # total/SPLIT_BYTES term.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    total = sum(sz for _p, _rgs, sz, _rr in pieces)
    target = max(parallelism, -(-total // SPLIT_BYTES))
    target = min(target, len(pieces))
    # least-loaded-first-decreasing via a heap: O(n log n) instead of
    # the O(pieces × bins) fill.index(min(fill)) scan, which at ~160k
    # row-group pieces on a multi-TB table would cost minutes of
    # single-threaded driver time before the job launches.  Tie-break
    # on bin index keeps the packing deterministic (same order the
    # linear scan produced: lowest index among equally-filled bins).
    import heapq

    bins: list[list] = [[] for _ in range(target)]
    heap = [(0, i) for i in range(target)]  # already a valid heap
    for p, rgs, sz, rrange in sorted(
        pieces, key=lambda x: (-x[2], x[0], x[1] or (), x[3] or ())
    ):
        fill, i = heapq.heappop(heap)
        bins[i].append((p, rgs, rrange))
        heapq.heappush(heap, (fill + sz, i))
    splits = [b for b in bins if b]
    return (
        splits,
        {c: col_map[c] for c in needed},
        batch_predicate,
        pred_part,
        pred_data,
    )


def native_scan_ops(col_map, needed, pred_data=()):
    """Per-output ops and the physical parquet column list for a native
    scan (partition-synthesized outputs are not read; predicate-only
    columns are).  Shared by the aggregate pipeline and the
    checkpointed builder."""
    ops = {c: col_map[c] for c in needed}
    sources = list(
        dict.fromkeys(
            [
                src
                for c in needed
                for src, op in [col_map[c]]
                if not (op is not None and op[0] == "partition")
            ]
            + list(pred_data)
        )
    )
    return ops, sources


def _native_partials(
    spark,
    splits,
    col_map: dict[str, tuple[str, tuple | None]],
    keys: Sequence[str],
    inputs: Sequence[str],
    grouped: bool,
    new_state,
    fold,
    serialize,
    partial_schema: StructType,
    predicate=None,
    pred_part: dict[str, str] | None = None,
    pred_data: Sequence[str] = (),
) -> DataFrame:
    """Partial phase over pyarrow-read splits: one Spark task per
    file/row-group split, batches never touch the JVM row pipeline.
    ``predicate`` (post-partition-pruning residual) is evaluated as an
    Arrow compute mask per batch; its data columns are read alongside
    the projected sources.

    The split list rides a broadcast and each task is seeded by a
    one-row ``spark.range(n, numPartitions=n)`` leaf (partition i holds
    exactly id i), so the partial stage is a plain
    ``range → MapInArrow → Exchange`` plan: no Python-RDD pickle
    serializer and no ``createDataFrame``-from-RDD conversion pass
    (measured ~0.1 s of per-query driver/plan overhead)."""
    keys = list(keys)
    inputs = list(inputs)
    pred_part = pred_part or {}
    pred_data = list(pred_data)
    needed = list(dict.fromkeys([*keys, *inputs]))
    ops, sources = native_scan_ops(col_map, needed, pred_data)
    if not splits:
        return spark.createDataFrame([], partial_schema)

    bc_splits = spark.sparkContext.broadcast(splits)
    key_names = [f.name for f in partial_schema.fields[:-1]]

    def scan_split(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        states: dict[tuple, Any] = {}
        for b in batches:
            for idx in b.column(0).to_pylist():
                fold_group_batches(
                    iter_bundle_batches(
                        bc_splits.value[idx], needed, ops, sources,
                        predicate, pred_part, pred_data,
                    ),
                    keys if grouped else [],
                    inputs, new_state, fold, states=states,
                )
        yield _partials_batch(
            states, key_names, serialize, to_arrow_schema(partial_schema)
        )

    n = len(splits)
    return spark.range(0, n, 1, n).mapInArrow(scan_split, partial_schema)


def _rg_maybe_matches(rg_meta, conjunct, col_idx: dict) -> bool:
    """Conservative row-group pruning test: False only when the
    conjunct (normalized literal-on-the-right comparison or IN) cannot
    match the group's parquet min/max bounds.  Bounds are spec-
    conservative under truncation, so True-by-default everywhere else
    keeps this safe."""
    kind = conjunct[0]
    if kind not in ("eq", "lt", "le", "gt", "ge", "in"):
        return True
    col = conjunct[1][1] if conjunct[1][0] == "col" else None
    if col is None or col not in col_idx:
        return True
    col_meta = rg_meta.column(col_idx[col])
    if kind in ("gt", "ge") and col_meta.physical_type in ("FLOAT", "DOUBLE"):
        # parquet min/max exclude NaN, but Spark's order has NaN above
        # everything — a group of NaNs would match gt/ge yet be pruned
        return True
    st = col_meta.statistics
    if st is None or not st.has_min_max:
        return True
    mn, mx = st.min, st.max
    try:
        if kind == "in":
            return any(
                v is not None and mn <= v <= mx for v in conjunct[2]
            )
        lit = conjunct[2][1]
        if lit is None:
            return True
        if kind == "eq":
            return mn <= lit <= mx
        if kind == "lt":
            return mn < lit
        if kind == "le":
            return mn <= lit
        if kind == "gt":
            return mx > lit
        return mx >= lit
    except TypeError:
        return True


# target decoded bytes per reader batch: bigger batches amortize the
# per-(group, batch) fold cost in the partial phase (one compact per
# group per batch), measured 1.6× on the 10M-row README experiment;
# the row count per batch is derived from each file's own row-group
# byte stats so wide (text) tables stay at safe row counts
_BATCH_TARGET_BYTES = 32 << 20
_BATCH_MIN_ROWS = 65536
_BATCH_MAX_ROWS = 1 << 20


def _rows_for_target(md) -> int:
    """Pick a per-batch row count for a parquet file from its first
    row group's bytes-per-row (uncompressed)."""
    try:
        if md.num_row_groups == 0:
            return _BATCH_MIN_ROWS
        rg = md.row_group(0)
        if rg.num_rows <= 0 or rg.total_byte_size <= 0:
            return _BATCH_MIN_ROWS
        per_row = max(1, rg.total_byte_size // rg.num_rows)
        return int(
            min(_BATCH_MAX_ROWS, max(_BATCH_MIN_ROWS, _BATCH_TARGET_BYTES // per_row))
        )
    except Exception:  # noqa: BLE001 — stats are advisory
        return _BATCH_MIN_ROWS


def iter_bundle_batches(
    bundle,
    needed: Sequence[str],
    ops: dict[str, tuple[str, tuple | None]],
    sources: Sequence[str],
    predicate=None,
    pred_part: dict[str, str] | None = None,
    pred_data: Sequence[str] = (),
    batch_size: int | None = None,
):
    """Executor-side pyarrow reader for one split bundle: yields
    RecordBatches already renamed to the output columns, with projected
    expressions (casts / length / partition constants) applied and the
    residual predicate evaluated as an Arrow mask.  ``batch_size=None``
    sizes batches per file from row-group byte stats
    (~_BATCH_TARGET_BYTES decoded per batch).

    A bundle entry may carry a third element ``(row_lo, row_hi)``: the
    task then folds only that pre-filter row range of the entry's batch
    stream (zero-copy slices) and stops decoding at the range end —
    how fat-row-group files are split below row-group granularity."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pred_part = pred_part or {}
    for entry in bundle:
        path, rgs, rrange = entry if len(entry) == 3 else (*entry, None)
        pvals = {
            out: _hive_partition_value(path, src, op[1])
            for out, (src, op) in ops.items()
            if op is not None and op[0] == "partition"
        }
        pred_env_const = {
            c: pa.scalar(_hive_partition_value(path, c, ddl), type=_pa_type(ddl))
            for c, ddl in pred_part.items()
        }
        pf = pq.ParquetFile(path)
        missing = [s for s in sources if s not in pf.schema_arrow.names]
        if missing:
            # only reachable on >MAX_FOOTER_READS tables (plan time
            # verifies every footer otherwise): fail loudly — pyarrow's
            # get_field_index returns -1 for absent columns and
            # batch.column(-1) silently wraps to the LAST column, which
            # would corrupt every aggregate built from this file
            raise ValueError(
                f"native scan: {path} lacks column(s) {missing} "
                "(schema-evolved table); set "
                "tdigest_spark.spark.arrow_agg.NATIVE_SCAN=False to use "
                "the Catalyst scan, which null-fills missing columns"
            )
        bs = batch_size if batch_size is not None else _rows_for_target(pf.metadata)
        if rrange is not None:
            # batches must not dwarf the row range, or every range task
            # decodes the whole fat batch it slices one corner of
            bs = min(bs, max(_BATCH_MIN_ROWS, rrange[1] - rrange[0]))
        if rgs is None:
            batches = pf.iter_batches(columns=list(sources), batch_size=bs)
        else:
            batches = pf.iter_batches(
                columns=list(sources),
                batch_size=bs,
                row_groups=list(rgs),
            )
        pos = 0
        for batch in batches:
            if rrange is not None:
                lo, hi = rrange
                bstart, bend = pos, pos + batch.num_rows
                pos = bend
                if bend <= lo:
                    continue
                if bstart >= hi:
                    break  # past the range: stop decoding this entry
                s = max(lo - bstart, 0)
                e = min(hi, bend) - bstart
                if s > 0 or e < batch.num_rows:
                    batch = batch.slice(s, e - s)
            if batch.num_rows == 0:
                continue
            if predicate is not None:
                env = dict(pred_env_const)
                for c in pred_data:
                    env[c] = batch.column(batch.schema.get_field_index(c))
                mask = _pc_eval(predicate, env)
                if isinstance(mask, pa.Scalar):
                    if not mask.as_py():
                        continue
                else:
                    batch = batch.filter(mask)
                    if batch.num_rows == 0:
                        continue
            cols = []
            for out_name in needed:
                src, op = ops[out_name]
                if op is not None and op[0] == "partition":
                    cols.append(pa.array([pvals[out_name]] * batch.num_rows))
                    continue
                col = batch.column(batch.schema.get_field_index(src))
                if op is not None:
                    kind, ddl = op
                    if kind == "length":
                        col = pc.utf8_length(col)
                    # safe=False matches Spark for every allow-listed
                    # cast (int→float rounds past 2^53 instead of
                    # raising; widening/float-to-double are exact)
                    col = pc.cast(col, _pa_type(ddl), safe=False)
                cols.append(col)
            yield pa.RecordBatch.from_arrays(cols, names=list(needed))


def _hive_partition_value(path: str, col: str, ddl: str):
    """Extract a hive-layout partition value (``.../col=value/...``)
    from a file path, decoded and cast per the relation's partition
    schema."""
    from urllib.parse import unquote

    prefix = col + "="
    for seg in path.split("/"):
        if seg.startswith(prefix):
            raw = unquote(seg[len(prefix):])
            if raw == "__HIVE_DEFAULT_PARTITION__":
                return None
            if ddl in ("int", "bigint", "smallint", "tinyint"):
                return int(raw)
            if ddl in ("double", "float"):
                return float(raw)
            if ddl == "boolean":
                return raw.lower() == "true"
            return raw
    raise ValueError(f"partition column {col!r} not found in path {path!r}")


def _pa_type(ddl: str):
    import pyarrow as pa

    mapping = {
        "double": pa.float64(),
        "float": pa.float32(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "smallint": pa.int16(),
        "tinyint": pa.int8(),
        "string": pa.string(),
        "boolean": pa.bool_(),
    }
    if ddl in mapping:
        return mapping[ddl]
    if ddl.startswith("decimal"):
        import re

        m = re.match(r"decimal\((\d+),(\d+)\)", ddl)
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    raise ValueError(f"unsupported cast target {ddl!r}")


def sketch_groupby_arrow(
    df: DataFrame,
    keys: Sequence[str],
    inputs: Sequence[str],
    new_state: Callable[[], Any],
    fold: Callable[..., None],
    serialize: Callable[[Any], bytes | None],
    finalize: Callable[[list[bytes]], tuple],
    result_fields: Sequence[StructField],
    salt: int | None = None,
    merge_bytes: Callable[[list[bytes]], bytes | None] | None = None,
) -> DataFrame:
    """partial(mapInArrow) → [salted merge] → merge+finalize.

    ``fold(state, **{col: pa.Array})`` folds one group-slice of one
    batch into the state; slices arrive as pyarrow Arrays.
    """
    keys = list(keys)
    inputs = list(inputs)
    grouped = bool(keys)
    native = (
        _native_parquet_splits(df, list(dict.fromkeys([*keys, *inputs])))
        if NATIVE_SCAN
        else None
    )
    if not grouped:
        df = df.withColumn(GROUP_SENTINEL, F.lit(0))
        keys = [GROUP_SENTINEL]
    df = df.select(*dict.fromkeys([*keys, *inputs]))

    partial_schema = StructType(
        _key_schema(df, keys) + [StructField(SKETCH_COL, BinaryType(), True)]
    )

    def run_partial(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        # ungrouped: _group_rows skips the encode/sort entirely (keys
        # is the constant sentinel column)
        states = fold_group_batches(
            batches, keys if grouped else [], inputs, new_state, fold
        )
        yield _partials_batch(states, keys, serialize, to_arrow_schema(partial_schema))

    if native is not None:
        splits, col_map, predicate, pred_part, pred_data = native
        n_input_parts = max(1, len(splits))
        partials = _native_partials(
            df.sparkSession, splits, col_map,
            keys if grouped else [], inputs, grouped,
            new_state, fold, serialize, partial_schema,
            predicate=predicate, pred_part=pred_part, pred_data=pred_data,
        )
    else:
        # .rdd forces a second physical planning of the whole input —
        # only pay it when the count actually matters (ungrouped fan-in)
        n_input_parts = (
            max(1, df.rdd.getNumPartitions()) if not grouped else 1
        )
        partials = df.mapInArrow(run_partial, partial_schema)
    if not grouped:
        # SQL semantics: an ungrouped aggregate over zero rows still
        # yields one row (NULL result).  One literal seed row with a
        # NULL sketch guarantees the sentinel group reaches the merge
        # pass even when the scan prunes to nothing; merge ignores NULL
        # sketches otherwise.  Built from range(1) + typed literals —
        # pure JVM, unlike createDataFrame's per-query Python→JVM
        # conversion pass.
        seed = (
            df.sparkSession.range(1)
            .select(
                *[
                    F.lit(0 if f.name == GROUP_SENTINEL else None)
                    .cast(f.dataType)
                    .alias(f.name)
                    for f in partial_schema.fields
                ]
            )
        )
        partials = partials.unionByName(seed)

    result_schema = StructType(_key_schema(df, keys) + list(result_fields))

    if salt and salt > 1:
        # intermediate merge round keyed by (keys, partition_id % salt):
        # caps reducer fan-in for hot groups before the final merge
        if merge_bytes is None:
            raise ValueError("salt requires merge_bytes")
        salted = partials.withColumn(
            "__salt__", F.pmod(F.spark_partition_id(), F.lit(salt))
        )
        partials = _merge_pass(
            salted,
            [*keys, "__salt__"],
            partial_schema,
            _merge_bytes_process(merge_bytes),
            emit_keys=keys,
        )

    if not grouped and merge_bytes is not None:
        # tree-merge rounds for global aggregation: round count is fixed
        # at plan time from the input partition count (no actions), and
        # each round's bucket column caps a merge task's fan-in at
        # ~MERGE_FANOUT partials, so the final single-group merge never
        # sees more than MERGE_FANOUT rows even at 10^5 file splits
        width = n_input_parts
        while width > MERGE_FANOUT:
            width = -(-width // MERGE_FANOUT)  # ceil div
            bucketed = partials.withColumn(
                "__fanin__", F.pmod(F.spark_partition_id(), F.lit(width))
            )
            partials = _merge_pass(
                bucketed,
                [*keys, "__fanin__"],
                partial_schema,
                _merge_bytes_process(merge_bytes),
                emit_keys=keys,
            )

    result = _merge_pass(
        partials, keys, result_schema, finalize, emit_keys=keys,
        result_fields=result_fields,
    )
    if not grouped:
        result = result.drop(GROUP_SENTINEL)
    # the merge pass emits exactly one row per group of these keys —
    # chained digest re-aggregation (rollup, union-then-quantile) keys
    # off this marker to skip its redundant partial phase, or the whole
    # shuffle when it re-groups by the same keys (tdigest_agg._run_digests)
    result._sketch_single_row_groups = tuple(keys) if grouped else ()
    return result


def finalize_rows(
    df: DataFrame,
    keys: Sequence[str],
    out_schema: StructType,
    process: Callable[[list[bytes]], tuple],
    result_fields: Sequence[StructField],
) -> DataFrame:
    """Per-row finalize for inputs that already hold exactly ONE sketch
    row per group of ``keys`` (our own aggregate outputs): the grouped
    aggregate degenerates to a row map, so no Exchange is needed — one
    narrow mapInArrow in the producing stage replaces a full shuffle +
    merge stage."""
    keys = list(keys)
    tail_fields = list(result_fields)
    finalize = _batch(process, _finalize_each)

    def run_rows(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        schema_pa = to_arrow_schema(out_schema)
        for batch in batches:
            cols: dict[str, Any] = {
                k: batch.column(batch.schema.get_field_index(k)) for k in keys
            }
            if batch.num_rows:
                # every row is its own group
                tails = finalize(
                    batch.column(batch.schema.get_field_index(SKETCH_COL)),
                    None, np.arange(batch.num_rows + 1),
                )
            else:
                tails = [[] for _ in tail_fields]
            cols.update((f.name, col) for f, col in zip(tail_fields, tails))
            yield record_batch_exact(cols, schema_pa)

    return df.mapInArrow(run_rows, out_schema)


def _merge_pass(
    partials: DataFrame,
    group_keys: Sequence[str],
    out_schema: StructType,
    process: Callable[[list[bytes]], tuple],
    emit_keys: Sequence[str],
    result_fields: Sequence[StructField] | None = None,
) -> DataFrame:
    """Shuffle partial sketches by key, then merge/finalize groups with
    the same mapInArrow machinery as the partial phase — one output row
    per group, no per-group pandas overhead (matters at 10^6 groups).
    ``group_keys`` may include extra columns (salt) that are grouped on
    but not emitted; ``emit_keys`` must be a prefix of ``group_keys``."""
    group_keys = list(group_keys)
    emit_keys = list(emit_keys)
    tail_fields = (
        list(result_fields)
        if result_fields is not None
        else [f for f in out_schema.fields if f.name not in emit_keys]
    )

    finalize = _batch(process, _finalize_each)

    def run_merge(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        cols: dict[str, Any] = {f.name: [] for f in out_schema.fields}
        batch = _one_batch(batches)
        if batch is not None:
            keys, rows, bounds = _group_rows(batch, group_keys)
            for i, k in enumerate(group_keys):
                if k in cols:
                    cols[k] = [key[i] for key in keys]
            if keys:
                sketches = batch.column(batch.schema.get_field_index(SKETCH_COL))
                tails = finalize(sketches, rows, bounds)
                cols.update((f.name, col) for f, col in zip(tail_fields, tails))
        yield record_batch_exact(cols, to_arrow_schema(out_schema))

    return partials.repartition(*group_keys).mapInArrow(run_merge, out_schema)
