"""The segmented t-digest path against the per-group scalar kernel.

The engine folds, merges and encodes all groups of a batch at once
(``fold.batch`` / ``serialize.batch`` / ``finalize.batch`` in
tdigest_agg, over ``decode_many`` / ``compact_many`` /
``merge_blobs_into`` / ``encode_many`` in the kernel).  Every digest it
produces must be byte-identical to folding each group on its own with
``TDigest.add_values`` / ``merge_digest`` / ``to_bytes``.  Inputs are
generated: group counts from 1 to 5,000, group sizes on both sides of
the 4,096-value flush threshold, equal-mean runs, NaN and ±0.0, mixed
compressions, and null, legacy flags=0 and header-only blobs.
"""

from __future__ import annotations

import copy
import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tdigest_spark.kernel import tdigest as K
from tdigest_spark.kernel.tdigest import (
    TDigest,
    decode_many,
    deserialize,
    merge_all,
    tdigest_from_values,
)
from tdigest_spark.spark import arrow_agg as A
from tdigest_spark.spark import tdigest_agg as T

@pytest.fixture(autouse=True, scope="module")
def _segmented_always():
    """Send every multi-digest compaction through the segmented pass,
    whatever the digest sizes, so the comparison always covers it."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(K, "_SEGMENTED_MIN_DIGESTS", 2)
        mp.setattr(K, "_SEGMENTED_MAX_MEAN", 1 << 62)
        yield


SETTINGS = dict(
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


def _values(rng, n):
    """n values mixing continuous data, equal-mean runs, NaN and ±0.0."""
    kind = rng.integers(0, 4)
    if kind == 0:
        v = rng.lognormal(0.0, 1.0, n)
    elif kind == 1:
        v = np.round(rng.normal(0.0, 2.0, n))  # long equal-mean runs
    elif kind == 2:
        v = rng.choice([-0.0, 0.0, 1.0, np.nan], n)
    else:
        v = rng.normal(0.0, 1.0, n)
        v[rng.random(n) < 0.05] = np.nan
        v[rng.random(n) < 0.05] = -0.0
    return v


def _sizes(rng, ngroups, big):
    """Mostly small groups; ``big`` of them straddle the flush threshold."""
    sizes = rng.integers(0, 40, ngroups)
    pick = rng.choice(ngroups, min(big, ngroups), replace=False)
    sizes[pick] = rng.integers(3_900, 4_400, pick.size)
    return sizes


def _batches(rng, ngroups, big, nbatches):
    sizes = _sizes(rng, ngroups, big)
    gid = rng.permutation(np.repeat(np.arange(ngroups), sizes))
    v = _values(rng, gid.size)
    cuts = np.sort(rng.integers(0, gid.size + 1, nbatches - 1))
    return [
        pa.record_batch({"g": pa.array(g, pa.int64()), "v": pa.array(x)})
        for g, x in zip(np.split(gid, cuts), np.split(v, cuts))
    ]


def _blob(rng, n, compression, form):
    d = TDigest(compression)
    if form != "empty":
        d.add_values(_values(rng, n))
    b = d.to_bytes()
    if form == "legacy" and d.count:
        # flags=0 stores (sum, count) pairs (tdigest.c:832-864)
        means, counts = d.centroid_arrays()
        b = struct.pack(">iqii", 0, d.count, compression, means.size) + b"".join(
            struct.pack(">dq", m * c, c) for m, c in zip(means.tolist(), counts.tolist())
        )
    return b


def _blob_batch(rng, ngroups, per_group):
    """Digest blobs of ``ngroups`` groups in random row order, drawn
    from a pool that mixes compressions and every blob form."""
    forms = ["plain", "plain", "plain", "legacy", "empty", "null"]
    pool = [
        None if form == "null"
        else _blob(rng, int(rng.integers(1, 2_000)), int(rng.choice([10, 25, 100])), form)
        for form in (forms[i % len(forms)] for i in range(48))
    ]
    gid = rng.permutation(np.repeat(np.arange(ngroups), rng.integers(1, per_group + 1, ngroups)))
    return gid, [pool[i] for i in rng.integers(0, len(pool), gid.size)]


# ----------------------------------------------------------------------
# values fold: engine batch path vs one TDigest per group
# ----------------------------------------------------------------------
@settings(max_examples=12, **SETTINGS)
@given(
    seed=st.integers(0, 2**32 - 1),
    ngroups=st.integers(1, 5_000),
    big=st.integers(0, 3),
    nbatches=st.integers(1, 4),
    compression=st.sampled_from([10, 100, 400]),
)
@example(seed=1, ngroups=5_000, big=2, nbatches=3, compression=100)
@example(seed=2, ngroups=1, big=1, nbatches=4, compression=100)
def test_values_fold_matches_scalar(seed, ngroups, big, nbatches, compression):
    rng = np.random.default_rng(seed)
    batches = _batches(rng, ngroups, big, nbatches)
    states = A.fold_group_batches(
        batches, ["g"], ["v"], lambda: TDigest(compression), T._fold_values("v")
    )
    ref: dict = {}
    for b in batches:
        g = b.column(0).to_numpy()
        order = np.argsort(g, kind="stable")
        keys, first = np.unique(g[order], return_index=True)
        for key, part in zip(keys.tolist(), np.split(b.column(1).to_numpy()[order], first[1:])):
            ref.setdefault((key,), TDigest(compression)).add_values(part)
    assert set(states) == set(ref)
    keys = list(states)
    got = T._serialize_td.batch([states[k] for k in keys]).to_pylist()
    want = [ref[k].to_bytes() if ref[k].count else None for k in keys]
    assert got == want
    assert [states[k].ncompactions for k in keys] == [ref[k].ncompactions for k in keys]


# ----------------------------------------------------------------------
# compact_many: stored centroids plus a pending tail, per digest
# ----------------------------------------------------------------------
@settings(max_examples=25, **SETTINGS)
@given(seed=st.integers(0, 2**32 - 1), ndigests=st.integers(2, 40))
def test_compact_many_matches_compact(seed, ndigests):
    rng = np.random.default_rng(seed)
    digests = []
    for _ in range(ndigests):
        d = TDigest(int(rng.choice([10, 20, 100])))
        for _ in range(rng.integers(0, 3)):  # stored centroids
            d.add_values(_values(rng, int(rng.integers(1, 3_000))))
            d.compact()
        if rng.random() < 0.5:  # all-singleton tail (the insert path)
            d.add_values(_values(rng, int(rng.integers(1, 3_000))), compact_threshold=1 << 62)
        else:  # a tail with weights (the lexsort path)
            other = tdigest_from_values(_values(rng, int(rng.integers(1, 3_000))), 10)
            d.add_centroids(*other.centroid_arrays(), compact_threshold=1 << 62)
        digests.append(d)
    ref = copy.deepcopy(digests)
    K.compact_many(digests)
    for d in ref:
        d.compact()
    assert [d.to_bytes() for d in digests] == [d.to_bytes() for d in ref]
    assert [d.ncompactions for d in digests] == [d.ncompactions for d in ref]


# ----------------------------------------------------------------------
# digest fold and merge pass: decode_many + segmented merge vs
# from_bytes + merge_digest per group
# ----------------------------------------------------------------------
@settings(max_examples=12, **SETTINGS)
@given(
    seed=st.integers(0, 2**32 - 1),
    ngroups=st.integers(1, 150),
    per_group=st.sampled_from([1, 4, 30]),
)
@example(seed=3, ngroups=2, per_group=200)  # crosses the flush point
def test_digest_paths_match_scalar(seed, ngroups, per_group):
    rng = np.random.default_rng(seed)
    gid, blobs = _blob_batch(rng, ngroups, per_group)
    batch = pa.record_batch({"g": pa.array(gid, pa.int64()), "d": pa.array(blobs, pa.binary())})
    keys, rows, bounds = A._group_rows(batch, ["g"])
    order = np.arange(len(blobs)) if rows is None else rows
    groups = [[blobs[r] for r in order[lo:hi]] for lo, hi in zip(bounds[:-1], bounds[1:])]

    # digest fold (partial phase of *_digests aggregates)
    for compression in (None, 50):
        states = [T._DigestAcc(compression) for _ in keys]
        T._fold_digests("d").batch(states, {"d": batch.column(1)}, rows, bounds)
        ref = [T._DigestAcc(compression) for _ in keys]
        for acc, blob_list in zip(ref, groups):
            T._fold_digests("d")(acc, d=pa.array(blob_list, pa.binary()))
        assert T._serialize_td.batch(states).to_pylist() == [T._serialize_td(a) for a in ref]

    # merge pass finalizers and the intermediate-round merge
    sketches = batch.column(1)
    live = [[b for b in grp if b is not None] for grp in groups]
    merged = [T._fin_digest(x)[0] for x in live]
    assert T._fin_digest.batch(sketches, rows, bounds)[0].to_pylist() == merged
    assert T._merge_bytes_td.batch(sketches, rows, bounds).to_pylist() == [
        m if x else None for m, x in zip(merged, live)
    ]
    qs = [0.0, 0.01, 0.5, 0.99, 1.0]
    got = T._fin_percentile_array(qs).batch(sketches, rows, bounds)[0]
    want = [T._fin_percentile_array(qs)(x)[0] for x in live]
    assert [None if g is None else np.asarray(g).tobytes() for g in got] == [
        None if w is None else np.asarray(w).tobytes() for w in want
    ]
    assert T._fin_count.batch(sketches, rows, bounds)[0] == [T._fin_count(x)[0] for x in live]


def test_merge_all_compression_rule_in_batch():
    """First digest's compression wins per group (tdigest.c:1491), even
    when that first digest is empty."""
    a = TDigest(25).to_bytes()
    b = tdigest_from_values(np.arange(500.0), 100).to_bytes()
    sketches = pa.array([a, b, b, a], pa.binary())
    out = T._fin_digest.batch(sketches, None, np.array([0, 2, 4]))[0].to_pylist()
    assert out == [merge_all([TDigest.from_bytes(a), TDigest.from_bytes(b)]).to_bytes(),
                   merge_all([TDigest.from_bytes(b), TDigest.from_bytes(a)]).to_bytes()]
    assert TDigest.from_bytes(out[0]).compression == 25
    assert TDigest.from_bytes(out[1]).compression == 100


# ----------------------------------------------------------------------
# batch codec: the same rules and messages as the one-blob deserialize
# ----------------------------------------------------------------------
def _malformed() -> dict[str, bytes]:
    good = tdigest_from_values([1.0, 2.0], 100).to_bytes()
    hdr = struct.Struct(">iqii")
    pair = struct.Struct(">dq")
    two = pair.pack(1.0, 1) + pair.pack(2.0, 1)
    return {
        "truncated": good[:-1],
        "short_header": good[:10],
        "zero_count_with_centroid": hdr.pack(1, 0, 100, 1) + b"\0" * 16,
        "count_without_centroids": hdr.pack(1, 5, 100, 0),
        "empty_bad_compression": hdr.pack(1, 0, 9, 0),
        "bad_flags": hdr.pack(7, 2, 100, 2) + two,
        "bad_compression": hdr.pack(1, 2, 5, 2) + two,
        "negative_count": hdr.pack(1, -1, 100, 1) + pair.pack(1.0, 1),
        "unsorted": hdr.pack(1, 2, 100, 2) + pair.pack(2.0, 1) + pair.pack(1.0, 1),
        "sum_mismatch": hdr.pack(1, 3, 100, 2) + two,
        "nan_mean": hdr.pack(1, 2, 100, 2) + pair.pack(float("nan"), 1) + pair.pack(2.0, 1),
        "zero_centroid_count": hdr.pack(1, 2, 100, 2) + pair.pack(1.0, 0) + pair.pack(2.0, 2),
        "centroid_over_total": hdr.pack(1, 2, 100, 2) + pair.pack(1.0, 3) + pair.pack(2.0, -1),
        "exceeds_buffer": hdr.pack(1, 101, 10, 101) + pair.pack(1.0, 1) * 101,
        "negative_centroids": hdr.pack(1, 2, 100, -1),
    }


@pytest.mark.parametrize("bad", list(_malformed().values()), ids=list(_malformed()))
def test_decode_many_rejects_like_deserialize(bad):
    with pytest.raises(ValueError) as one:
        deserialize(bad)
    good = [tdigest_from_values(np.arange(n, dtype=float), 100).to_bytes() for n in (3, 50)]
    for blobs in ([bad], [good[0], None, bad, good[1]], [None, bad, bad[:5]]):
        with pytest.raises(ValueError) as many:
            decode_many(pa.array(blobs, pa.binary()))
        assert str(many.value) == str(one.value)


def test_decode_many_round_trip_and_nulls():
    ds = [tdigest_from_values(np.arange(n, dtype=float), c) for n, c in ((5, 10), (500, 100))]
    blobs = [None, ds[0].to_bytes(), TDigest(30).to_bytes(), None, ds[1].to_bytes()]
    arr = pa.array(blobs, pa.binary()).slice(1)  # non-zero array offset
    rows, means, counts, offsets, count, compression = decode_many(arr)
    assert rows.tolist() == [0, 1, 3]
    assert count.tolist() == [5, 0, 500] and compression.tolist() == [10, 30, 100]
    for i, d in zip((0, 2), ds):
        lo, hi = offsets[i], offsets[i + 1]
        assert np.array_equal(means[lo:hi], d.means) and np.array_equal(counts[lo:hi], d.counts)
    large = decode_many(pa.array(blobs[1:], pa.large_binary()))
    assert large[4].tolist() == count.tolist()


# ----------------------------------------------------------------------
# group slicing: narrow nullable integer keys at their type minimum
# ----------------------------------------------------------------------
@pytest.mark.parametrize(
    "typ,lo", [(pa.int8(), -128), (pa.int16(), -(2**15)), (pa.int32(), -(2**31))]
)
def test_group_rows_narrow_int_key_at_type_min(typ, lo):
    batch = pa.record_batch({"k": pa.array([lo, None, 5, lo], typ)})
    got = {key: rows.tolist() for key, rows in A._group_slices(batch, ["k"])}
    assert got == {(lo,): [0, 3], (None,): [1], (5,): [2]}
