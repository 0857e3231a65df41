"""Kernel unit tests — mirror the reference pg_regress strategy
(SURVEY.md §5): accuracy vs exact oracle with the reference's tolerance
bands, monotonicity, order-invariance, incremental == batch byte
equality, serialization roundtrips, malformed-input rejection, mixed
compression merges, and the (value,count) fast path.

Reference citations: /root/reference/test/sql/*.sql.
"""

import math

import numpy as np
import pytest

from tdigest_spark.kernel.tdigest import (
    MAX_COMPRESSION,
    MIN_COMPRESSION,
    TDigest,
    buffer_size,
    generate_counts,
    merge_all,
    tdigest_from_values,
)

PS = np.array([0.01, 0.05, 0.1, 0.9, 0.95, 0.99])
PS_FULL = np.arange(1, 100) / 100.0


def lcg_uniform(n, seed=23982):
    """The reference's deterministic minstd PRNG (basic.sql:19-31)."""
    out = np.empty(n, dtype=np.float64)
    val = seed
    for i in range(n):
        val = (val * 16807) % 2147483647
        out[i] = val / 2147483647.0
    return out


def rank_of(sorted_x, v):
    return np.searchsorted(sorted_x, v, side="right") / len(sorted_x)


def max_rank_err(x, digest, ps=PS):
    xs = np.sort(x)
    est = digest.quantiles(ps)
    return max(abs(rank_of(xs, e) - p) for p, e in zip(ps, est))


# ----------------------------------------------------------------------
# accuracy vs exact oracle, tolerance bands from basic.sql:116-185
# ----------------------------------------------------------------------
@pytest.mark.parametrize(
    "compression,tol",
    [(10, 0.1), (100, 0.01), (1000, 0.001)],
)
@pytest.mark.parametrize(
    "dataset",
    ["asc", "desc", "uniform", "sqrt", "sqrt_sqrt", "pow2", "pow4", "normal"],
)
def test_accuracy_distributions(compression, tol, dataset):
    n = 100_000
    if dataset == "asc":
        x = np.arange(1, n + 1) / n
    elif dataset == "desc":
        x = (np.arange(1, n + 1) / n)[::-1]
    else:
        z = lcg_uniform(n)
        if dataset == "uniform":
            x = z
        elif dataset == "sqrt":
            x = np.sqrt(z)
        elif dataset == "sqrt_sqrt":
            x = np.sqrt(np.sqrt(z))
        elif dataset == "pow2":
            x = z**2
        elif dataset == "pow4":
            x = z**4
        elif dataset == "normal":
            # Box-Muller on the LCG stream, as basic.sql:33-81
            u1 = lcg_uniform(n, seed=23982)
            u2 = lcg_uniform(n, seed=49979693)
            g = np.sqrt(-2 * np.log(u1)) * np.cos(2 * math.pi * u2)
            x = np.clip(0.5 + 0.1 * g, 0, 1) ** 4
    d = tdigest_from_values(x, compression)
    # the reference asserts absolute value error on [0,1]-ranged data
    # (`abs(a - b) < tol`, basic.sql:116-185)
    exact = np.quantile(x, PS)
    est = d.quantiles(PS)
    assert np.max(np.abs(est - exact)) < tol
    # and at compression >= 100 the relative-rank error bound holds too
    # (BASELINE.md target)
    if compression >= 100:
        assert max_rank_err(x, d) < tol


@pytest.mark.parametrize("compression", [10, 100, 1000])
def test_monotonic_percentile_vector(compression):
    """basic.sql:129-142 — the 99-vector must be non-decreasing."""
    x = lcg_uniform(50_000)
    d = tdigest_from_values(x, compression)
    v = d.quantiles(PS_FULL)
    assert np.all(np.diff(v) >= 0)


def test_small_inputs():
    """basic.sql:977-1006 edge cases."""
    d = tdigest_from_values(np.arange(1.0, 11.0), 100)
    assert d.quantile(0.0) == 1.0
    assert d.quantile(1.0) == 10.0
    v = d.quantiles(PS_FULL)
    assert np.all(np.diff(v) >= 0)
    # single value
    d1 = tdigest_from_values([42.0], 100)
    assert d1.quantile(0.5) == 42.0
    assert d1.count == 1


def test_percentile_of_inverse():
    """percentile_of ≈ inverse of percentile (basic.sql rank probes)."""
    x = lcg_uniform(100_000)
    xs = np.sort(x)
    d = tdigest_from_values(x, 100)
    for v in [0.1, 0.25, 0.5, 0.75, 0.9]:
        exact = rank_of(xs, v)
        assert abs(d.quantile_of(v) - exact) < 0.01
    assert d.quantile_of(-1.0) == 0.0
    assert d.quantile_of(2.0) == 1.0


def test_percentile_of_exact_mean_match():
    """tdigest.c:689-705 — exact mean match sums all equal-mean
    centroids."""
    d = TDigest(10000)
    d.add_values(np.repeat([1.0, 2.0, 3.0], 100))
    # 2.0 is an exact centroid mean: rank = (100 + 100/2) / 300 = 0.5
    assert d.quantile_of(2.0) == pytest.approx(0.5)


# ----------------------------------------------------------------------
# trimmed aggregates (trimmed_aggregates.sql)
# ----------------------------------------------------------------------
@pytest.mark.parametrize(
    "low,high,lo_bound,hi_bound",
    [(0.1, 0.9, 0.45, 0.55), (0.25, 0.75, 0.45, 0.55), (0.0, 0.5, 0.2, 0.3), (0.5, 1.0, 0.7, 0.8)],
)
def test_trimmed_avg_ranges(low, high, lo_bound, hi_bound):
    """trimmed_aggregates.sql:29-89 analytic acceptance ranges."""
    x = lcg_uniform(10_000)
    d = tdigest_from_values(x, 50)
    avg = d.trimmed_avg(low, high)
    assert lo_bound < avg < hi_bound
    s = d.trimmed_sum(low, high)
    n_window = math.ceil(10_000 * high) - math.floor(10_000 * low)
    assert abs(s - avg * n_window) / max(abs(s), 1) < 0.01


def test_trimmed_order_invariance():
    """trimmed_aggregates.sql:91-142 — asc vs desc identical output at
    compression high enough that nothing compacts."""
    x = np.arange(1.0, 10_001.0)
    da = tdigest_from_values(x, 10000)
    dd = tdigest_from_values(x[::-1], 10000)
    assert da.trimmed_avg(0.1, 0.9) == dd.trimmed_avg(0.1, 0.9)
    assert da.trimmed_sum(0.05, 0.95) == dd.trimmed_sum(0.05, 0.95)
    assert da.to_bytes() == dd.to_bytes()


def test_trimmed_full_window_is_plain_sum_avg():
    x = lcg_uniform(5000)
    d = tdigest_from_values(x, 100)
    s, c = d.trimmed_sum_count(0.0, 1.0)
    assert c == 5000
    assert s == pytest.approx(x.sum(), rel=1e-6)


# ----------------------------------------------------------------------
# incremental == batch (incremental.sql:36-81) — byte equality
# ----------------------------------------------------------------------
def test_incremental_equals_batch_bytes():
    x = lcg_uniform(1000)
    batch = TDigest(100)
    batch.add_values(x, compact_threshold=10**9)  # defer
    batch.compact()

    inc = TDigest(100)
    for v in x:
        inc.add_values([v], compact_threshold=10**9)  # compact=false
    inc.compact()  # the forced tdigest_union(NULL, d) compaction
    assert inc.to_bytes() == batch.to_bytes()


def test_union_of_halves_matches_merge_all():
    x = lcg_uniform(20_000)
    d1 = tdigest_from_values(x[:10_000], 100)
    d2 = tdigest_from_values(x[10_000:], 100)
    u = merge_all([d1, d2])
    assert u.count == 20_000
    assert max_rank_err(x, u) < 0.01


def test_merge_associativity_across_splits():
    """BASELINE north_rule: estimates within bound for any partition
    split (repartition sweep)."""
    x = lcg_uniform(60_000)
    ref = tdigest_from_values(x, 100)
    xs = np.sort(x)
    for k in [1, 2, 7, 32]:
        parts = [tdigest_from_values(x[i::k], 100) for i in range(k)]
        m = merge_all(parts)
        assert m.count == 60_000
        est = m.quantiles(PS)
        for p, e in zip(PS, est):
            assert abs(rank_of(xs, e) - p) < 0.01, (k, p)
        # and vs the unsplit digest
        assert np.all(np.abs(m.quantiles(PS) - ref.quantiles(PS)) < 0.02)


def test_merge_mixed_compression():
    """combine.sql:36-97 / combine_crash.sql — digests with different
    compression merge legally; destination compression wins."""
    x = lcg_uniform(30_000)
    d_lo = tdigest_from_values(x[:10_000], 10)
    d_hi = tdigest_from_values(x[10_000:], 10000)
    m = TDigest(100)
    m.merge_digest(d_lo)
    m.merge_digest(d_hi)
    m.merge_digest(TDigest(50))  # empty digest of a third compression: no-op
    assert m.count == 30_000
    m.merge_digest(d_lo)  # repeat input
    assert m.compression == 100
    assert m.count == 40_000
    v = m.quantiles(PS_FULL)
    assert np.all(np.diff(v) >= 0)


# ----------------------------------------------------------------------
# (value, count) ingestion (value_count_api.sql)
# ----------------------------------------------------------------------
def test_value_count_equals_expanded():
    vals = lcg_uniform(200) * 1000
    cnts = (10 + 100 * lcg_uniform(200, seed=29823218)).astype(np.int64)
    d_vc = TDigest(100)
    for v, c in zip(vals, cnts):
        d_vc.add_value_count(v, int(c))
    expanded = np.repeat(vals, cnts)
    # reference tolerance for this fixture: value error over the 0-1000
    # range < 1% (value_count_api.sql:143-251, FIXTURES.md F2/F3)
    exact = np.quantile(expanded, PS)
    est = d_vc.quantiles(PS)
    assert np.max(np.abs(est - exact)) / 1000.0 < 0.01


def test_value_count_huge_counts():
    """value_count_api.sql:30-81 — int64 counts up to 2^31-1 via the
    generate fast path."""
    d = TDigest(100)
    d.add_value_count(100.0, 2147483647)
    d.add_value_count(200.0, 1000)
    assert d.count == 2147483647 + 1000
    assert d.quantile(0.5) == pytest.approx(100.0)
    assert d.quantile_of(150.0) > 0.999


def test_generate_counts_properties():
    """tdigest_generate (tdigest.c:1055-1146): weights sum to count,
    all positive, bounded count of centroids."""
    for compression in (10, 100, 1000):
        for count in (10_001, 2147483647):
            c = generate_counts(compression, count)
            assert int(c.sum()) == count
            assert np.all(c > 0)
            assert c.size <= buffer_size(compression)


# ----------------------------------------------------------------------
# serialization (copy.sql, cast.sql, conversions.sql)
# ----------------------------------------------------------------------
def test_binary_roundtrip_many():
    """copy.sql:4-28 — binary roundtrip lossless for a sweep of
    compressions."""
    for compression in range(100, 1101, 200):
        x = lcg_uniform(10 * compression, seed=compression)
        d = tdigest_from_values(x, compression)
        b = d.to_bytes()
        d2 = TDigest.from_bytes(b)
        assert d2.to_bytes() == b
        assert d2.count == d.count
        assert np.array_equal(d2.means, d.centroid_arrays()[0])


def test_text_roundtrip():
    """copy.sql text roundtrip; means printed with 6 decimals so we
    assert string-level fixpoint after one parse."""
    x = lcg_uniform(5000)
    d = tdigest_from_values(x, 100)
    s = d.to_string()
    d2 = TDigest.from_string(s)
    assert d2.to_string() == s
    assert d2.count == d.count


def test_text_format_shape():
    d = tdigest_from_values([1.0, 2.0, 3.0], 100)
    s = d.to_string()
    assert s.startswith("flags 1 count 3 compression 100 centroids 3")
    assert "(1.000000, 1)" in s


def test_json_and_array_casts():
    """cast.sql — golden JSON/array layout."""
    d = tdigest_from_values([1.0, 2.0], 10000)
    j = d.to_json()
    assert j == (
        '{"flags": 1, "count": 2, "compression": 10000, "centroids": 2, '
        '"mean": [1, 2], "count": [1, 1]}'
    )
    a = d.to_double_array()
    assert list(a) == [1.0, 2.0, 10000.0, 2.0, 1.0, 1.0, 2.0, 1.0]


def test_legacy_text_literal_converts_to_means():
    """flags=0 text literals store (sum, count) and print back as flags=1
    means (tdigest_update_format, tdigest.c:832-864); the golden
    conversions.out check of the same rule needs the reference tree."""
    d = TDigest.from_string("flags 0 count 10 compression 100 centroids 2 (10.0, 5) (30.0, 5)")
    want = "flags 1 count 10 compression 100 centroids 2 (2.000000, 5) (6.000000, 5)"
    assert d.to_string() == want
    assert TDigest.from_string(want).to_string() == want
    assert TDigest.from_bytes(d.to_bytes()).to_string() == want


def test_json_mean_formatting():
    """%g mean layout of the json cast (tdigest.c:2964-3021) on
    non-integral and large means."""
    d = TDigest.from_string(
        "flags 1 count 3 compression 25 centroids 3 (0.125, 1) (2.5, 1) (1234567.0, 1)"
    )
    assert d.to_json() == (
        '{"flags": 1, "count": 3, "compression": 25, "centroids": 3, '
        '"mean": [0.125, 2.5, 1.23457e+06], "count": [1, 1, 1]}'
    )


def test_legacy_sum_format_accepted():
    """tdigest_update_format (tdigest.c:832-864): flags=0 stores
    (sum,count); divide on read."""
    import struct

    # two centroids: (sum=10, count=5) -> mean 2 ; (sum=30, count=5) -> mean 6
    data = struct.pack(">iqii", 0, 10, 100, 2)
    data += struct.pack(">dq", 10.0, 5) + struct.pack(">dq", 30.0, 5)
    d = TDigest.from_bytes(data)
    assert list(d.means) == [2.0, 6.0]
    assert d.count == 10


@pytest.mark.parametrize(
    "text",
    [
        "flags 0 count -1 compression 100 centroids 1 (1.0, 1)",  # neg count
        "flags 1 count 3 compression 100 centroids 2 (1.0, 1) (2.0, 1)",  # mismatch
        "flags 1 count 2 compression 100 centroids 2 (2.0, 1) (1.0, 1)",  # unsorted
        "flags 7 count 2 compression 100 centroids 2 (1.0, 1) (2.0, 1)",  # bad flags
        "flags 1 count 2 compression 5 centroids 2 (1.0, 1) (2.0, 1)",  # bad compression
        "flags 1 count 2 compression 100 centroids 0",  # no centroids
        "garbage",
    ],
)
def test_malformed_text_rejected(text):
    """conversions.sql:4-13."""
    with pytest.raises(ValueError):
        TDigest.from_string(text)


def test_malformed_binary_rejected():
    import struct

    good = tdigest_from_values([1.0, 2.0], 100).to_bytes()
    with pytest.raises(ValueError):
        TDigest.from_bytes(good[:-1])  # truncated
    # (count=0, n=0) is the legitimate EMPTY digest serialize() emits —
    # accepted; inconsistent zero headers must still be rejected
    with pytest.raises(ValueError):
        # count=0 but a centroid present
        TDigest.from_bytes(struct.pack(">iqii", 1, 0, 100, 1) + b"\0" * 16)
    with pytest.raises(ValueError):
        TDigest.from_bytes(struct.pack(">iqii", 1, 5, 100, 0))  # count w/o centroids
    with pytest.raises(ValueError):
        TDigest.from_bytes(struct.pack(">iqii", 1, 0, 9, 0))  # bad compression


# ----------------------------------------------------------------------
# invariants (§1.3) as properties of every produced digest
# ----------------------------------------------------------------------
@pytest.mark.parametrize("compression", [10, 100, 1000])
def test_digest_invariants(compression):
    x = lcg_uniform(25_000, seed=7 + compression)
    d = tdigest_from_values(x, compression)
    means, counts = d.centroid_arrays()
    assert np.all(counts > 0)
    assert not np.isnan(means).any()
    assert np.all(np.diff(means) >= 0)
    assert int(counts.sum()) == d.count == 25_000
    assert means.size <= buffer_size(compression)


def test_compression_validation():
    with pytest.raises(ValueError):
        TDigest(MIN_COMPRESSION - 1)
    with pytest.raises(ValueError):
        TDigest(MAX_COMPRESSION + 1)
    with pytest.raises(ValueError):
        tdigest_from_values([1.0], 100).quantiles([1.5])
    with pytest.raises(ValueError):
        TDigest(100).add_value_count(1.0, 0)


def test_nan_values_skipped():
    """NULL values are skipped in the reference (tdigest.c:998-1005);
    NaN is our missing-value marker at the kernel boundary."""
    d = TDigest(100)
    d.add_values([1.0, float("nan"), 3.0])
    assert d.count == 2


def test_nan_value_count_dropped_both_regimes():
    """NaN values are dropped by add_value_count regardless of count —
    the huge-count generate path used to poison the digest with NaN
    centroids (making its own to_bytes output unreadable) while the
    small-count path silently dropped."""
    d = TDigest(100)
    d.add_value_count(float("nan"), 3)            # small: buffered path
    d.add_value_count(float("nan"), 10**6)        # huge: generate path
    assert d.count == 0
    d.add_value_count(1.5, 10**6)
    assert d.count == 10**6
    # round trip stays valid
    assert TDigest.from_bytes(d.to_bytes()).count == 10**6


def test_add_centroids_rejects_nan_mean():
    d = TDigest(100)
    with pytest.raises(ValueError, match="NaN"):
        d.add_centroids([1.0, float("nan")], [1, 2])


def test_empty_digest_binary_roundtrip():
    """serialize() emits a header-only blob for an empty digest;
    from_bytes must accept it back (text format stays reference-strict)."""
    d = TDigest(250)
    blob = d.to_bytes()
    back = TDigest.from_bytes(blob)
    assert back.count == 0 and back.compression == 250
    assert back.centroid_arrays()[0].size == 0
    # and it behaves like a fresh digest afterwards
    back.add_values([1.0, 2.0, 3.0])
    assert back.count == 3
