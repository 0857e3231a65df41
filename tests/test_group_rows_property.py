"""``_group_rows`` against a slow Python-dict reference with Spark's
grouping semantics: -0.0 joins 0.0, all NaNs form one group, NULL is a
group of its own, and a group's rows stay in ascending row order.

Batches are generated with 1-3 keys of every integer width (values at
the type's min/max and on both sides of the 2048-value small-range
cut), float32/float64 with NaN and ±0.0, and strings and binary values,
plain or as DictionaryArrays, the form the native scan reads string
keys in.  Dictionaries come with repeated entries, unused entries, NULL
entries and all-NULL chunks.  The packed radix total lands on both
sides of 2^8 and 2^16 (the uint8/uint16 radix sorts) and, with
``_RADIX_MAX`` set next to it, on both sides of the lexsort fallback.
No Spark session is needed.
"""

from __future__ import annotations

import math
from unittest import mock

import numpy as np
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tdigest_spark.spark import arrow_agg as A

SETTINGS = dict(
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)

_INTS = [
    pa.int8(), pa.int16(), pa.int32(), pa.int64(),
    pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64(),
]
_NAN_KEY = "<NaN>"


def _int_bounds(t: pa.DataType) -> tuple[int, int]:
    bits = t.bit_width
    if pa.types.is_signed_integer(t):
        return -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    return 0, (1 << bits) - 1


def _norm(v):
    """A key value as the reference groups it: NaNs are one value,
    -0.0 is 0.0."""
    if isinstance(v, float):
        return _NAN_KEY if v != v else v + 0.0
    return v


def _int_pool(draw):
    t = draw(st.sampled_from(_INTS))
    lo, hi = _int_bounds(t)
    # spans below and above the small-range cut (max - min < 2048)
    span = draw(st.sampled_from([1, 4, 300, 2046, 2047, 2048, 5000, None]))
    if span is None:  # the type's whole range: both extremes
        return [lo, hi, lo + 1, hi - 1, max(lo, min(hi, 0))], t
    anchor = draw(st.sampled_from(["min", "max", "zero"]))
    base = {"min": lo, "max": max(lo, hi - span), "zero": max(lo, min(hi - span, 0))}[anchor]
    top = min(hi, base + span)
    return [base, top] + draw(st.lists(st.integers(base, top), max_size=3)), t


def _float_pool(draw):
    t = draw(st.sampled_from([pa.float32(), pa.float64()]))
    values = [0.0, -0.0, math.nan, -math.nan, 1.5, -2.25, math.inf, -math.inf]
    return draw(st.lists(st.sampled_from(values), min_size=1, max_size=8)), t


def _text_pool(draw):
    t = draw(st.sampled_from([pa.string(), pa.binary()]))
    width = draw(st.sampled_from([2, 20, 400]))
    pool = [f"w{i}" for i in draw(st.lists(st.integers(0, width - 1), min_size=1, max_size=40))]
    return ([v.encode() for v in pool] if t == pa.binary() else pool), t


def _key_column(draw, rng, n):
    """One key's values: row values drawn (by ``rng``) from a pool of a
    drawn kind, with a drawn share of NULLs."""
    pool, t = draw(st.sampled_from([_int_pool, _float_pool, _text_pool]))(draw)
    null_rate = draw(st.sampled_from([0.0, 0.2, 1.0]))
    nulls = rng.random(n) < null_rate
    return [None if z else pool[i] for z, i in zip(nulls, rng.integers(0, len(pool), n))], t


def _as_dictionary(draw, rng, vals, t):
    """``vals`` as a DictionaryArray whose dictionary holds every value
    in a drawn order, some of them twice, plus unused entries and maybe
    a NULL entry; each row points at one of its value's entries."""
    distinct = list(dict.fromkeys(v for v in vals if v is not None))
    unused = [
        (f"unused{i}".encode() if t == pa.binary() else f"unused{i}")
        for i in range(draw(st.sampled_from([0, 2, 300])))
    ]
    entries = distinct + [v for v in distinct if rng.random() < 0.3] + unused
    null_entry = draw(st.booleans())
    if null_entry:
        entries.append(None)
    entries = [entries[i] for i in rng.permutation(len(entries))]
    slots: dict = {}
    for i, e in enumerate(entries):
        slots.setdefault(e, []).append(i)
    indices = []
    for v in vals:
        if v is None and not (null_entry and rng.random() < 0.5):
            indices.append(None)
        else:
            indices.append(int(rng.choice(slots[v])))
    return pa.DictionaryArray.from_arrays(
        pa.array(indices, pa.int32()), pa.array(entries, t)
    )


def _reference(columns, n):
    groups: dict[tuple, list[int]] = {}
    for r in range(n):
        groups.setdefault(tuple(_norm(c[r]) for c in columns), []).append(r)
    return groups


def _grouped(batch, keys):
    """``_group_rows`` as {normalized key: rows}, after checking the
    shape of what it returns."""
    group_keys, rows, bounds = A._group_rows(batch, keys)
    n = batch.num_rows
    assert len(bounds) == len(group_keys) + 1
    assert bounds[0] == 0 and bounds[-1] == n
    assert np.all(np.diff(bounds) > 0)
    if rows is None:
        assert len(group_keys) == 1
        rows = np.arange(n)
    assert sorted(rows.tolist()) == list(range(n))
    out = {}
    for g, key in enumerate(group_keys):
        for v in key:
            if isinstance(v, float) and v == 0.0:
                assert math.copysign(1.0, v) == 1.0  # -0.0 decodes as 0.0
        members = rows[bounds[g]:bounds[g + 1]].tolist()
        assert members == sorted(members)
        out[tuple(_norm(v) for v in key)] = members
    assert len(out) == len(group_keys)  # no value split over two groups
    return out


def _radix_total(batch, keys):
    total = 1
    for k in keys:
        total *= len(A._key_codes(batch.column(k))[1]) + 1
    return total


@settings(max_examples=150, **SETTINGS)
@given(data=st.data(), n=st.integers(1, 300), nkeys=st.integers(1, 3))
def test_group_rows_matches_reference(data, n, nkeys):
    draw = data.draw
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    columns, arrays, dict_arrays = [], {}, {}
    for i in range(nkeys):
        vals, t = _key_column(draw, rng, n)
        columns.append(vals)
        arrays[f"k{i}"] = pa.array(vals, t)
        if t in (pa.string(), pa.binary()):
            dict_arrays[f"k{i}"] = _as_dictionary(draw, rng, vals, t)
    keys = list(arrays)
    want = _reference(columns, n)
    plain = pa.record_batch(arrays)
    forms = [plain, pa.record_batch({**arrays, **dict_arrays})]
    # at _RADIX_MAX the packed code would not fit: the lexsort groups
    for batch in forms:
        total = _radix_total(batch, keys)
        for radix_max in (A._RADIX_MAX, total + 1, total):
            with mock.patch.object(A, "_RADIX_MAX", radix_max):
                assert _grouped(batch, keys) == want
    # a dictionary whose entries are the values in first-row order is
    # the plain column's own encoding: (keys, rows, bounds) are equal
    encoded = pa.record_batch(
        {k: (a.dictionary_encode() if k in dict_arrays else a) for k, a in arrays.items()}
    )
    got = [A._group_rows(b, keys) for b in (plain, encoded)]
    (k1, r1, b1), (k2, r2, b2) = got
    assert [tuple(map(_norm, k)) for k in k1] == [tuple(map(_norm, k)) for k in k2]
    assert (r1 is None and r2 is None) or r1.tolist() == r2.tolist()
    assert b1.tolist() == b2.tolist()


@settings(max_examples=25, **SETTINGS)
@given(
    data=st.data(),
    n=st.integers(1, 200),
    width=st.sampled_from([1, 255, 256, 65535, 65536, 70000]),
)
def test_dictionary_key_radix_edges(data, n, width):
    """One dictionary key whose entries (used or not) put the radix
    total just below, at and above the uint8 and uint16 sort limits,
    next to an all-NULL dictionary chunk."""
    rng = np.random.default_rng(data.draw(st.integers(0, 2**32 - 1)))
    entries = pa.array([f"e{i}" for i in range(width)])
    idx = rng.integers(0, width, n)
    idx = pa.array(idx, pa.int32(), mask=rng.random(n) < 0.1)
    k = pa.DictionaryArray.from_arrays(idx, entries)
    nulls = pa.DictionaryArray.from_arrays(pa.nulls(n, pa.int32()), entries.slice(0, 3))
    batch = pa.record_batch({"k": k, "z": nulls})
    vals = k.to_pylist()
    want = _reference([vals], n)
    assert _grouped(batch, ["k"]) == want
    assert _grouped(batch, ["z", "k"]) == {(None, *key): rows for key, rows in want.items()}
    assert _grouped(batch, ["z"]) == {(None,): list(range(n))}
