"""Pure-NumPy t-digest kernel (no Spark imports).

Re-derives the numeric behavior of the reference PostgreSQL extension
(tvondra/tdigest, /root/reference/tdigest.c) with a batch-oriented,
vectorized design suited to Arrow/NumPy execution:

* centroid model  (mean: float64, count: int64)      — tdigest.c:27-30
* merge criterion z <= q0(1-q0) && z <= q2(1-q2),
  z = proposed_count * compression / (2*pi*N*ln N)   — tdigest.c:469-491
* alternating compaction direction per compaction    — tdigest.c:456-467
* equal-mean centroids keep their mean bit-exact
  across merges (no recomputation drift)             — tdigest.c:495-513
* quantile estimation via half-count interpolation   — tdigest.c:547-646
* inverse quantile (percentile_of)                   — tdigest.c:653-739
* trimmed sum/avg with count-window clipping         — tdigest.c:3306-3357
* closed-form digest generation for huge (value,
  count) inputs                                      — tdigest.c:1055-1146
* wire format: big-endian flags|count|compression|
  ncentroids|(mean,count)*                           — tdigest.c:2918-2939
* text format "flags .. count .. compression ..
  centroids .. (m, c) ..."                           — tdigest.c:2798-2824

It is NOT a line-by-line port: where the C code adds values one at a
time and compacts whenever a 10*compression buffer fills, this kernel
ingests whole NumPy arrays and performs a single sort + single greedy
merge pass per flush.  The greedy pass places, for each output
centroid, the cut that gives it the maximal weight W satisfying the
same two inequalities (solving q2(1-q2) as a quadratic exactly like
tdigest_generate, tdigest.c:1090-1121).

Two loops place the cuts.  For one digest, ``_merge_sorted`` loops
once per output centroid.  For many digests at once, the segmented
kernel works on flat (means, counts, segment offsets) arrays:
``_merge_segments`` loops once per output-centroid *rank*, placing the
next cut of every digest with one ``searchsorted`` on a global
cumulative weight, with per-digest compression and scan direction.
Both then reduce the cuts with the same ``_cut_means`` (one
``np.add.reduceat``), so they give byte-identical digests.  The engine
uses the segmented kernel through ``compact_many`` (a batch of
``TDigest.compact``), ``fold_chunks`` / ``merge_into`` (a batch of
``merge_digest``, in flush rounds over flat arrays) and the batch wire
codec ``decode_many`` / ``encode_many``; ``deserialize`` is the codec's
one-blob case, so one set of validation rules remains.  The scalar
``TDigest`` methods stay the reference the batch forms are tested
against, byte for byte.

Results are deterministic for a given input partitioning and satisfy
the same q(1-q)/compression error envelope; they are not (and need not
be) byte-identical to the C implementation.
"""

from __future__ import annotations

import math
import re
import struct

import numpy as np

MIN_COMPRESSION = 10  # tdigest.c:110
MAX_COMPRESSION = 10000  # tdigest.c:111
TDIGEST_STORES_MEAN = 0x0001  # tdigest.c:52

# The reference compacts whenever the append buffer hits
# BUFFER_SIZE = 10 * compression (tdigest.c:93-107).  We keep the same
# bound as the *minimum* flush threshold but never flush more often
# than every _MIN_FLUSH pending values: a batch kernel amortizes the
# sort far better over larger chunks, and the merge criterion itself
# does not depend on the chunk size.
_MIN_FLUSH = 4096


def buffer_size(compression: int) -> int:
    """Reference BUFFER_SIZE(compression) — tdigest.c:93-107."""
    return 10 * int(compression)


def check_compression(compression: int) -> int:
    compression = int(compression)
    if compression < MIN_COMPRESSION or compression > MAX_COMPRESSION:
        raise ValueError(
            f"compression for t-digest must be in [{MIN_COMPRESSION}, {MAX_COMPRESSION}]"
        )
    return compression


def check_percentiles(ps) -> np.ndarray:
    ps = np.asarray(ps, dtype=np.float64)
    if ps.ndim == 0:
        ps = ps.reshape(1)
    if np.any((ps < 0.0) | (ps > 1.0)) or np.any(np.isnan(ps)):
        raise ValueError("invalid percentile value, should be in [0.0, 1.0]")
    return ps


def check_trim(low: float, high: float) -> tuple[float, float]:
    # tdigest.c:963-977
    low = float(low)
    high = float(high)
    if not (0.0 <= low < high <= 1.0):
        raise ValueError("invalid trim bounds, need 0 <= low < high <= 1")
    return low, high


def _plus_zero(v: np.ndarray) -> np.ndarray:
    """``v`` with -0.0 folded into +0.0: equal values then have equal
    bits, so the (unstable, SIMD) value sort of compact() is
    deterministic.  No copy unless ``v`` holds a zero."""
    return v + 0.0 if (v == 0.0).any() else v


class TDigest:
    """A t-digest: sorted centroid arrays plus an uncompacted pending tail.

    ``means``/``counts`` always hold the *compacted* centroids (sorted
    ascending by mean).  New values accumulate in ``_pending`` chunks and
    are folded in by :meth:`compact`.
    """

    __slots__ = (
        "compression",
        "means",
        "counts",
        "count",
        "ncompactions",
        "_pending_means",
        "_pending_counts",
        "_pending_n",
    )

    def __init__(self, compression: int = 100):
        self.compression = check_compression(compression)
        self.means = np.empty(0, dtype=np.float64)
        self.counts = np.empty(0, dtype=np.int64)
        self.count = 0  # total items represented (compacted + pending)
        self.ncompactions = 0
        self._pending_means: list[np.ndarray] = []
        self._pending_counts: list[np.ndarray] = []
        self._pending_n = 0

    # ------------------------------------------------------------------
    # ingestion
    # ------------------------------------------------------------------
    def add_values(self, values, compact_threshold: int | None = None) -> None:
        """Append raw values (each weight 1). Vectorized bulk ingest."""
        v = np.asarray(values, dtype=np.float64).ravel()
        if v.size == 0:
            return
        if np.isnan(v).any():
            v = v[~np.isnan(v)]
            if v.size == 0:
                return
        self._pending_means.append(_plus_zero(v))
        self._pending_counts.append(None)  # marker: all-ones
        self._pending_n += v.size
        self.count += v.size
        self._maybe_compact(compact_threshold)

    def add_centroids(self, means, counts, compact_threshold: int | None = None) -> None:
        """Append (mean, count) pairs, e.g. pre-aggregated values or a
        merged-in digest's centroids (tdigest_add_centroid fold,
        tdigest.c:769-789 / tdigest_combine tdigest.c:2319-2377)."""
        m = np.asarray(means, dtype=np.float64).ravel()
        c = np.asarray(counts, dtype=np.int64).ravel()
        if m.size != c.size:
            raise ValueError("means/counts length mismatch")
        if m.size == 0:
            return
        if np.any(c <= 0):
            raise ValueError("invalid count value, must be a positive value")
        if np.isnan(m).any():
            # centroids come from digests / pre-aggregated pairs, where
            # NaN means corruption, not data (the reference asserts
            # !isnan on every centroid add; a NaN here would also make
            # to_bytes() emit a blob from_bytes() rejects)
            raise ValueError("centroid mean must not be NaN")
        self._pending_means.append(m)
        self._pending_counts.append(c)
        self._pending_n += m.size
        self.count += int(c.sum())
        self._maybe_compact(compact_threshold)

    def add_value_count(self, value: float, count: int) -> None:
        """Add ``count`` occurrences of ``value``.  Uses the closed-form
        generate fast path for huge counts (tdigest.c:1230-1242)."""
        count = int(count)
        if count <= 0:
            raise ValueError(f"invalid count value {count}, must be a positive value")
        if value != value:
            # NaN values are dropped like add_values drops them (SQL
            # null semantics) — previously the huge-count generate path
            # poisoned the digest with NaN centroids while the small
            # path silently dropped, so behavior depended on count
            return
        if count > buffer_size(self.compression):
            counts = generate_counts(self.compression, count)
            self.add_centroids(np.full(counts.size, float(value)), counts)
        else:
            self.add_values(np.full(count, float(value)))

    def merge_digest(self, other: "TDigest") -> None:
        """Union another digest into this one (compression of *this*
        digest wins — tdigest.c:1491, combine.sql semantics)."""
        other_m, other_c = other.centroid_arrays()
        if other_m.size:
            self.add_centroids(other_m, other_c)

    def _maybe_compact(self, threshold: int | None) -> None:
        if self._full(threshold):
            self.compact()

    def _full(self, threshold: int | None = None) -> bool:
        """Stored plus pending centroids reached the flush threshold."""
        if threshold is None:
            threshold = max(buffer_size(self.compression), _MIN_FLUSH)
        return self._pending_n + len(self.means) >= threshold

    # ------------------------------------------------------------------
    # compaction
    # ------------------------------------------------------------------
    def compact(self) -> None:
        """Fold pending values into the compacted centroid set.

        Mirrors tdigest_compact (tdigest.c:434-542): sort by (mean,
        count), alternate scan direction between compactions, merge
        greedily under z <= q0(1-q0) && z <= q2(1-q2).
        """
        if self._pending_n == 0:
            return  # already fully compacted (tdigest.c:450-452)

        all_singletons = all(c is None for c in self._pending_counts)
        if all_singletons:
            # Fast path for the dominant build-from-raw-values case: the
            # pending tail is all weight-1 points, so a plain np.sort
            # (no argsort gather) plus a vectorized sorted-merge against
            # the existing centroids gives the exact (mean, count)
            # ordering: equal-mean ties put count-1 points first, which
            # matches the (mean, count)-ascending sort key.  Raw values
            # arrive with -0.0 folded into +0.0 (add_values), so equal
            # values are identical and the sort order is unique.
            pend = (
                self._pending_means[0]
                if len(self._pending_means) == 1
                else np.concatenate(self._pending_means)
            )
            pend = np.sort(pend)
            if self.means.size == 0:
                means = pend
                counts = None  # sentinel: all ones — rebalance is a no-op
            else:
                pos = np.searchsorted(pend, self.means, side="right")
                means = np.insert(pend, pos, self.means)
                counts = np.insert(
                    np.ones(pend.size, dtype=np.int64), pos, self.counts
                )
                counts = _rebalance_segments(
                    means, counts, np.array([0, means.size]), [self.count]
                )
        else:
            parts_m = [self.means] + self._pending_means
            parts_c = [self.counts] + [
                np.ones(m.size, dtype=np.int64) if c is None else c
                for m, c in zip(self._pending_means, self._pending_counts)
            ]
            means = np.concatenate(parts_m)
            counts = np.concatenate(parts_c)
            order = np.lexsort((counts, means))  # (mean, count) asc — tdigest.c:2588-2610
            means = means[order]
            counts = _rebalance_segments(
                means, counts[order], np.array([0, means.size]), [self.count]
            )
        self._pending_means = []
        self._pending_counts = []
        self._pending_n = 0

        self.ncompactions += 1
        reverse = self.ncompactions % 2 == 1  # odd → scan from the right (tdigest.c:458-467)

        self.means, self.counts = _merge_sorted(
            means, counts, self.count, self.compression, reverse
        )

    def recompact(self) -> None:
        """Force one compaction over ALL centroids, stored and pending —
        the ``tdigest_union(NULL, d)`` / ``compact=true`` idiom.  The
        reference rebuilds the digest through a fresh aggstate buffer
        (tdigest_digest_to_aggstate, tdigest.c:2384-2408) so previously
        compacted centroids participate in the merge again; plain
        :meth:`compact` would skip when nothing is pending
        (tdigest.c:450-452 ncompacted == ncentroids)."""
        if self.means.size:
            self._pending_means.insert(0, self.means)
            self._pending_counts.insert(0, self.counts)
            self._pending_n += self.means.size
            self.means = np.empty(0, dtype=np.float64)
            self.counts = np.empty(0, dtype=np.int64)
        self.compact()

    def flush_sorted(self) -> None:
        """Fold pending values into the centroid arrays WITHOUT merging
        (the ``compact=false`` incremental mode, README.md:237-244):
        values stay as count-1 centroids, sorted into position, up to
        ~10x larger than a compacted digest.  If the result would
        exceed BUFFER_SIZE the reference would have compacted anyway
        (tdigest.c:752-753), so we do too."""
        if self._pending_n == 0:
            return
        if self._pending_n + len(self.means) > buffer_size(self.compression):
            self.compact()
            return
        parts_m = [self.means] + self._pending_means
        parts_c = [self.counts] + [
            np.ones(m.size, dtype=np.int64) if c is None else c
            for m, c in zip(self._pending_means, self._pending_counts)
        ]
        means = np.concatenate(parts_m)
        counts = np.concatenate(parts_c)
        order = np.lexsort((counts, means))
        self.means = means[order]
        self.counts = counts[order]
        self._pending_means = []
        self._pending_counts = []
        self._pending_n = 0

    # ------------------------------------------------------------------
    # views
    # ------------------------------------------------------------------
    def centroid_arrays(self) -> tuple[np.ndarray, np.ndarray]:
        """Compacted (means, counts) — compacts pending data first."""
        self.compact()
        return self.means, self.counts

    @property
    def ncentroids(self) -> int:
        return len(self.means) + self._pending_n

    # ------------------------------------------------------------------
    # estimators
    # ------------------------------------------------------------------
    def quantiles(self, percentiles) -> np.ndarray:
        ps = check_percentiles(percentiles)
        means, counts = self.centroid_arrays()
        return compute_quantiles(means, counts, self.count, ps)

    def quantile(self, p: float) -> float:
        return float(self.quantiles([p])[0])

    def quantiles_of(self, values) -> np.ndarray:
        vs = np.asarray(values, dtype=np.float64).ravel()
        means, counts = self.centroid_arrays()
        return compute_quantiles_of(means, counts, self.count, vs)

    def quantile_of(self, v: float) -> float:
        return float(self.quantiles_of([v])[0])

    def trimmed_sum_count(self, low: float, high: float) -> tuple[float, int]:
        low, high = check_trim(low, high)
        means, counts = self.centroid_arrays()
        return trimmed_agg(means, counts, self.count, low, high)

    def trimmed_avg(self, low: float, high: float) -> float | None:
        s, c = self.trimmed_sum_count(low, high)
        return (s / c) if c > 0 else None

    def trimmed_sum(self, low: float, high: float) -> float | None:
        s, c = self.trimmed_sum_count(low, high)
        return s if c > 0 else None

    # ------------------------------------------------------------------
    # serialization
    # ------------------------------------------------------------------
    def to_bytes(self, compact: bool = True) -> bytes:
        if compact:
            means, counts = self.centroid_arrays()
        else:
            self.flush_sorted()
            means, counts = self.means, self.counts
        return serialize(means, counts, self.count, self.compression)

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        means, counts, count, compression = deserialize(data)
        d = cls(compression)
        d.means = means
        d.counts = counts
        d.count = count
        return d

    def to_string(self) -> str:
        means, counts = self.centroid_arrays()
        return to_string(means, counts, self.count, self.compression)

    @classmethod
    def from_string(cls, text: str) -> "TDigest":
        means, counts, count, compression = from_string(text)
        d = cls(compression)
        d.means = means
        d.counts = counts
        d.count = count
        return d

    def to_json(self) -> str:
        means, counts = self.centroid_arrays()
        return to_json(means, counts, self.count, self.compression)

    def to_double_array(self) -> np.ndarray:
        means, counts = self.centroid_arrays()
        return to_double_array(means, counts, self.count, self.compression)

    def __eq__(self, other) -> bool:
        if not isinstance(other, TDigest):
            return NotImplemented
        return self.to_bytes() == other.to_bytes()

    def __repr__(self) -> str:  # pragma: no cover
        return (
            f"TDigest(compression={self.compression}, count={self.count}, "
            f"ncentroids={self.ncentroids})"
        )


# ----------------------------------------------------------------------
# equal-mean run rebalancing (tdigest_sort, tdigest.c:348-414)
# ----------------------------------------------------------------------
def _rebalance_run(run: np.ndarray, weight_before: int, weight_after: int) -> np.ndarray:
    """Two-pointer proportional redistribution of one equal-mean run
    (rebalance_centroids, tdigest.c:298-339)."""
    n = run.size
    ratio = weight_before / float(weight_after)
    scratch = np.empty_like(run)
    count_before = 0
    count_after = 0
    start = 0
    end = n - 1
    i = 0
    while i < n:
        while i < n:
            scratch[start] = run[i]
            count_before += int(run[i])
            i += 1
            start += 1
            if count_before > count_after * ratio:
                break
        while i < n:
            scratch[end] = run[i]
            count_after += int(run[i])
            i += 1
            end -= 1
            if count_before < count_after * ratio:
                break
    return scratch


# ----------------------------------------------------------------------
# merge pass
# ----------------------------------------------------------------------
def _normalizer(compression, totals: np.ndarray) -> np.ndarray:
    """c/(2*pi*N*ln N) of the merge criterion (tdigest.c:469-491), per
    digest.  ``math.log`` keeps the scalar and segmented passes
    bit-identical (NumPy's SIMD log may round differently)."""
    logs = np.array([math.log(t) for t in totals.tolist()])
    return compression / (2.0 * math.pi * totals * logs)


def _cut_means(means, counts, starts, w):
    """Means of the output centroids of a merge pass: input centroids
    ``starts[k]:starts[k+1]`` (the cuts tile ``means``) collapse into
    one centroid of weight ``w[k]``.  One ``np.add.reduceat`` serves
    the scalar and the segmented pass alike, so both give the same
    bits.  A run of equal means keeps its exact value (tdigest.c:495-513)."""
    ends = np.append(starts[1:], means.size)
    first = means[starts]
    sums = np.add.reduceat(means if counts is None else means * counts, starts)
    return np.where(first == means[ends - 1], first, sums / w)


def _restore_sorted(m, c, offsets):
    """A merge pass can leave means locally unsorted when weighted means
    of adjacent groups cross; restore the sorted invariant (§1.3 inv 5)
    of every segment that lost it, by (mean, count)."""
    down = np.diff(m) < 0
    if not down.any():
        return m, c
    seg = np.repeat(np.arange(offsets.size - 1), np.diff(offsets))
    down &= seg[1:] == seg[:-1]
    if not down.any():
        return m, c
    bad = np.unique(seg[1:][down])
    idx = _ranges(offsets[bad], offsets[bad + 1] - offsets[bad])
    order = idx[np.lexsort((c[idx], m[idx], seg[idx]))]
    m, c = m.copy(), c.copy()
    m[idx] = m[order]
    c[idx] = c[order]
    return m, c


def _merge_sorted(
    means: np.ndarray,
    counts: np.ndarray,
    total: int,
    compression: int,
    reverse: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """One greedy merge pass over the sorted centroids of ONE digest.

    Criterion per the reference (tdigest.c:469-491): an output centroid
    of weight W starting at cumulative weight S (out of N) is legal iff
    ``W * c/(2*pi*N*ln N) <= q0*(1-q0)`` and ``<= q2*(1-q2)`` with
    ``q0 = S/N``, ``q2 = (S+W)/N``.  Rather than testing each input
    centroid in a Python loop, we compute the maximal legal W in closed
    form (the same quadratic tdigest_generate solves, tdigest.c:1090-1121)
    and consume input centroids up to that weight with searchsorted —
    one loop iteration per *output* centroid, which places the cuts;
    :func:`_cut_means` then reduces them.  :func:`_merge_segments` is
    the same pass over many digests at once.
    """
    n = means.size
    ones = counts is None  # sentinel: every input centroid has weight 1
    if n == 0:
        return means, (np.empty(0, dtype=np.int64) if ones else counts)
    if total < 2 or n == 1:
        # ln(N) <= 0 → normalizer infinite in the reference → no merging.
        return means.copy(), (
            np.ones(n, dtype=np.int64) if ones else counts.copy()
        )

    if reverse:
        means = means[::-1]
        if not ones:
            counts = counts[::-1]

    normalizer = float(_normalizer(compression, np.array([total]))[0])
    csum = None if ones else np.cumsum(counts)  # inclusive cumulative weights
    ftotal = float(total)

    starts: list[int] = []
    widths: list[int] = []
    i = 0  # next input centroid to consume
    s = 0  # cumulative weight already finalized
    while i < n:
        q0 = s / ftotal
        # z <= q0*(1-q0)  →  W <= q0*(1-q0)/normalizer   (linear bound)
        r1 = q0 * (1.0 - q0) / normalizer
        # z <= q2*(1-q2) with q2=(s+W)/N  →  quadratic in W
        # (coefficients exactly as tdigest.c:1105-1107)
        b = ftotal - 2.0 * s - ftotal * ftotal * normalizer
        c = s * ftotal - float(s) * float(s)
        disc = b * b + 4.0 * c  # b^2 - 4ac with a=-1
        if disc < 0.0:
            wmax = 0.0
        else:
            sq = math.sqrt(disc)
            r2 = max((-b - sq) / -2.0, (-b + sq) / -2.0)
            wmax = min(r1, r2)
        wmax = math.floor(wmax)

        first_w = 1 if ones else int(counts[i])
        if wmax < first_w:
            # a single input centroid is never split (tdigest.c:518-524)
            j, w = i + 1, first_w
        elif ones:
            # consume input centroids while cumulative weight <= s + wmax
            j = min(i + int(wmax), n)
            w = j - i
        else:
            j = int(np.searchsorted(csum, s + wmax, side="right"))
            j = max(j, i + 1)
            w = int(csum[j - 1] - (csum[i - 1] if i > 0 else 0))
        starts.append(i)
        widths.append(w)
        s += w
        i = j

    c = np.asarray(widths, dtype=np.int64)
    m = _cut_means(means, counts, np.asarray(starts, dtype=np.int64), c)
    if reverse:
        m = m[::-1]
        c = c[::-1]
    m, c = _restore_sorted(m, c, np.array([0, m.size]))
    return np.ascontiguousarray(m), np.ascontiguousarray(c)


# ----------------------------------------------------------------------
# segmented kernel: many digests as flat (means, counts, offsets)
# ----------------------------------------------------------------------
def _ranges(starts: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + l)`` for every (s, l) pair."""
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    first = np.cumsum(lengths) - lengths
    return np.arange(int(lengths.sum()), dtype=np.int64) + np.repeat(
        starts - first, lengths
    )


def _reversing(n: int, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Permutation of ``n`` elements reversing each range [lo, hi)."""
    perm = np.arange(n, dtype=np.int64)
    idx = _ranges(lo, hi - lo)
    perm[idx] = np.repeat(lo + hi - 1, hi - lo) - idx
    return perm


def _rebalance_segments(means, counts, offsets, totals) -> np.ndarray:
    """Reorder equal-mean runs around the median of their segment
    (tdigest_sort, tdigest.c:348-414); returns the reordered counts.

    After a (mean, count)-ascending sort, runs of equal means are
    ordered small→large by count.  That is the right layout below the
    median (small centroids toward the tail) but wrong above it: the
    merge criterion would then meet an unsplittable giant centroid right
    at the upper tail.  Mirrors the reference: runs fully above the
    median are reversed (tdigest.c:398-402); runs straddling it are
    redistributed proportionally by weight (rebalance_centroids,
    tdigest.c:298-339).  A run ending exactly at the median stays
    ascending (the reference's ratio is infinite there, a no-op).

    Runs are found for every segment in one vectorized pass, runs above
    the median are reversed in one gather, and the few straddling runs
    go through :func:`_rebalance_run`."""
    n = means.size
    if n < 2:
        return counts
    same = np.diff(means) == 0
    inner = offsets[1:-1]
    same[inner[(inner > 0) & (inner < n)] - 1] = False  # runs stay in a segment
    if not same.any():
        return counts
    brk = np.flatnonzero(~same) + 1
    rs = np.concatenate(([0], brk))
    re_ = np.concatenate((brk, [n]))
    multi = re_ - rs > 1
    rs, re_ = rs[multi], re_[multi]
    csum = np.cumsum(counts)
    base = np.concatenate(([0], csum))[offsets[:-1]]  # weight before each segment
    rseg = np.searchsorted(offsets, rs, side="right") - 1
    so_far = np.concatenate(([0], csum))[rs] - base[rseg]
    next_group = csum[re_ - 1] - base[rseg]
    median = np.asarray(totals, dtype=np.int64)[rseg] // 2
    above = so_far >= median
    counts = counts[_reversing(n, rs[above], re_[above])]
    straddle = ~above & (next_group > median)
    for s_i, e_i, before, after in zip(
        rs[straddle].tolist(), re_[straddle].tolist(),
        (median - so_far)[straddle].tolist(), (next_group - median)[straddle].tolist(),
    ):
        counts[s_i:e_i] = _rebalance_run(counts[s_i:e_i], before, after)
    return counts


def _merge_segments(means, counts, offsets, totals, compression, reverse):
    """:func:`_merge_sorted` over every segment at once.

    The boundary loop runs once per output-centroid *rank*: each pass
    places the next cut of every still-active segment, with the same
    closed-form bound per segment and one ``searchsorted`` on a global
    cumulative weight.  Compression and scan direction are per segment.

    A segment whose widest legal centroid, floor(q0*(1-q0)/normalizer),
    is at most 1 everywhere merges nothing: q0*(1-q0) <= 0.25 holds in
    floating point too, and any two centroids weigh at least 2.  Such a
    segment (at compression 100, one of at most 35 items) compacts to
    its sorted input and skips the loop.  Fewer than
    _SEGMENTED_MIN_DIGESTS working segments take the scalar loop of
    :func:`_merge_sorted` instead.  Returns the merged (means, counts,
    offsets)."""
    sizes = np.diff(offsets)
    nseg = sizes.size
    totals = np.asarray(totals, dtype=np.int64)
    compression = np.asarray(compression)
    reverse = np.asarray(reverse, dtype=bool)
    work = sizes > 1  # one centroid (or none) merges into itself
    norm = np.ones(nseg)
    norm[work] = _normalizer(compression[work], totals[work])
    work &= 0.25 / norm >= 2.0
    nwork = int(np.count_nonzero(work))
    if not nwork:
        return means, counts, offsets
    if nwork < _SEGMENTED_MIN_DIGESTS:
        parts_m, parts_c, prev = [], [], 0
        out_sizes = sizes.copy()
        for g in np.flatnonzero(work).tolist():
            lo, hi = int(offsets[g]), int(offsets[g + 1])
            m, c = _merge_sorted(
                means[lo:hi], counts[lo:hi], int(totals[g]), int(compression[g]),
                bool(reverse[g]),
            )
            parts_m += [means[prev:lo], m]
            parts_c += [counts[prev:lo], c]
            out_sizes[g] = m.size
            prev = hi
        return (
            np.concatenate(parts_m + [means[prev:]]),
            np.concatenate(parts_c + [counts[prev:]]),
            np.concatenate(([0], np.cumsum(out_sizes))),
        )
    flip = reverse & work
    if flip.any():
        perm = _reversing(means.size, offsets[:-1][flip], offsets[1:][flip])
        means, counts = means[perm], counts[perm]
    csum = np.cumsum(counts)
    # the state of every working segment, kept compact: dropped as each
    # segment places its last cut
    act = np.flatnonzero(work)
    i = offsets[:-1][act]
    end = offsets[1:][act]
    base = np.concatenate(([0], csum))[i]
    s = np.zeros(act.size, dtype=np.int64)
    nn = totals[act].astype(np.float64)
    nz = norm[act]
    nnz = nn * nn * nz
    cut = np.repeat(~work, sizes)  # every centroid of a resting segment
    while i.size:
        cut[i] = True
        ss = s.astype(np.float64)
        q0 = ss / nn
        r1 = q0 * (1.0 - q0) / nz
        b = nn - 2.0 * ss - nnz
        c = ss * nn - ss * ss
        disc = b * b + 4.0 * c
        sq = np.sqrt(np.maximum(disc, 0.0))
        r2 = np.maximum((-b - sq) / -2.0, (-b + sq) / -2.0)
        wmax = np.floor(np.where(disc < 0.0, 0.0, np.minimum(r1, r2)))
        single = wmax < counts[i]
        # non-finite bounds cannot occur (N >= 2), so the cast is exact
        goal = base + s + np.where(single, 0, wmax).astype(np.int64)
        j = np.searchsorted(csum, goal, side="right")
        j = np.where(single, i + 1, np.clip(j, i + 1, end))
        s = csum[j - 1] - base
        i = j
        more = j < end
        if not more.all():
            i, end, base, s, nn, nz, nnz = (
                x[more] for x in (i, end, base, s, nn, nz, nnz)
            )
    starts = np.flatnonzero(cut)
    cs0 = np.concatenate(([0], csum))
    w = cs0[np.append(starts[1:], means.size)] - cs0[starts]
    m = _cut_means(means, counts, starts, w)
    seg_of = np.searchsorted(offsets, starts, side="right") - 1
    out_off = np.concatenate(([0], np.cumsum(np.bincount(seg_of, minlength=nseg))))
    if flip.any():
        perm = _reversing(m.size, out_off[:-1][flip], out_off[1:][flip])
        m, w = m[perm], w[perm]
    m, w = _restore_sorted(m, w, out_off)
    return m, w, out_off


def _segment_order(means, key2, offsets):
    """An order equal to ``np.lexsort((key2, means, seg))``: every
    segment sorted by (mean, key2), stable.  One float argsort ranks the
    means (equal means, -0.0 and 0.0 too, share a rank) and one argsort
    of a packed int64 (segment, rank, key2) key orders them, a fraction
    of the three-key lexsort's time; the lexsort remains for keys that
    would not fit in 63 bits.

    Callers make every tie of the packed key a tie of equal bits (a
    stored centroid's key2 is unique in its segment where counts do not
    break its ties), so the order of tied elements is only visible for
    -0.0 next to 0.0: the packed sort is unstable unless a -0.0 is
    present."""
    n = means.size
    if n < 2:
        return np.arange(n)
    nseg = offsets.size - 1
    seg = np.repeat(np.arange(nseg), np.diff(offsets))
    o = np.argsort(means)
    sm = means[o]
    rank = np.empty(n, dtype=np.int64)
    rank[o] = np.concatenate(([0], np.cumsum(sm[1:] != sm[:-1])))
    nrank = int(rank[o[-1]]) + 1
    nkey2 = int(key2.max()) + 1
    if nseg * nrank * nkey2 >= 1 << 63:
        return np.lexsort((key2, means, seg))
    stable = np.signbit(means[means == 0.0]).any()
    return np.argsort(
        (seg * nrank + rank) * nkey2 + key2, kind="stable" if stable else None
    )


def _compact_segments(means, counts, key2, offsets, totals, compression, reverse):
    """Sort every segment by (mean, key2), stable; rebalance its
    equal-mean runs; run the merge pass — ``TDigest.compact`` for many
    digests, on flat arrays."""
    order = _segment_order(means, key2, offsets)
    means, counts = means[order], counts[order]
    counts = _rebalance_segments(means, counts, offsets, totals)
    return _merge_segments(means, counts, offsets, totals, compression, reverse)


# Crossovers of the flat passes against the per-digest scalar ones
# (measured on a 4-vCPU box, BENCH.md "Flat many-digest kernel").  The
# segmented merge loop pays ~60 us per output rank however few segments
# are active: below ~16-32 working segments the scalar loop wins.  The
# flat sort loses to the scalar all-singleton sort (one SIMD float
# sort per digest) on few digests and on large ones: compact_many keeps
# the scalar compact below 32 digests or above 256 centroids a digest.
_SEGMENTED_MIN_DIGESTS = 32
_SEGMENTED_MAX_MEAN = 256  # centroids per digest, stored + pending


def compact_many(digests):
    """``d.compact()`` for every digest, as one segmented pass; returns
    the compacted centroids of all ``digests`` as flat ``(means, counts,
    offsets)`` (digest g at ``offsets[g]:offsets[g+1]``).

    Each digest is one segment of its stored centroids followed by its
    pending chunks.  The per-segment sort key reproduces the scalar
    paths: (mean, count) in general; for an all-singleton tail, pending
    values before stored centroids of equal mean, the stored ones in
    their order (the insert fast path).  The only Python work per digest
    is gathering its arrays and writing the result back.

    The flat sort pays off on many small digests only: a few digests, or
    large ones, keep the scalar ``compact`` (see _SEGMENTED_MIN_DIGESTS),
    whose all-singleton sort is one SIMD float sort."""
    ds = [d for d in digests if d._pending_n]
    if len(ds) < _SEGMENTED_MIN_DIGESTS or (
        sum(d.means.size + d._pending_n for d in ds) > _SEGMENTED_MAX_MEAN * len(ds)
    ):
        for d in ds:
            d.compact()
        ds = []
    if ds:
        chunks_m = [a for d in ds for a in (d.means, *d._pending_means)]
        chunks_c = [a for d in ds for a in (d.counts, *d._pending_counts)]
        nchunk = np.fromiter((1 + len(d._pending_means) for d in ds), np.int64, len(ds))
        clen = np.fromiter(map(len, chunks_m), np.int64, len(chunks_m))
        ones = np.fromiter((c is None for c in chunks_c), bool, len(chunks_c))
        means = np.concatenate(chunks_m)
        if ones.any():
            counts = np.ones(means.size, dtype=np.int64)
            counts[~np.repeat(ones, clen)] = np.concatenate(
                [c for c in chunks_c if c is not None]
            )
        else:
            counts = np.concatenate(chunks_c)
        # stored chunks hold counts: a digest is all-singleton when every
        # chunk but its first one is
        first = np.cumsum(nchunk) - nchunk
        weighted = ~ones
        weighted[first] = False
        singles = ~np.logical_or.reduceat(weighted, first)
        offsets = np.concatenate(([0], np.cumsum(np.add.reduceat(clen, first))))
        key2 = counts
        if singles.any():
            # 1 + its index for a stored centroid, 0 for a pending value
            stored = np.zeros(len(chunks_m), dtype=bool)
            stored[first] = True
            cstart = np.cumsum(clen) - clen
            index = np.arange(means.size) - np.repeat(cstart, clen)
            key2 = np.where(
                np.repeat(singles, np.diff(offsets)),
                np.where(np.repeat(stored, clen), 1 + index, 0),
                counts,
            )
        m, c, off = _compact_segments(
            means, counts, key2, offsets,
            np.fromiter((d.count for d in ds), np.int64, len(ds)),
            np.fromiter((d.compression for d in ds), np.int64, len(ds)),
            np.fromiter((d.ncompactions % 2 == 0 for d in ds), bool, len(ds)),  # odd after +1 → reverse
        )
        for d, lo, hi in zip(ds, off[:-1].tolist(), off[1:].tolist()):
            d.means = m[lo:hi]
            d.counts = c[lo:hi]
            d._pending_means = []
            d._pending_counts = []
            d._pending_n = 0
            d.ncompactions += 1
        if len(ds) == len(digests):
            return m, c, off
    return (
        np.concatenate([d.means for d in digests]) if digests else np.empty(0),
        np.concatenate([d.counts for d in digests]) if digests else np.empty(0, np.int64),
        np.concatenate(([0], np.cumsum([d.means.size for d in digests]))).astype(np.int64),
    )


def add_values_many(digests, values: np.ndarray, bounds: np.ndarray) -> None:
    """``digests[g].add_values(values[bounds[g]:bounds[g+1]])`` for every
    g, the compactions those adds trigger run as one :func:`compact_many`."""
    keep = ~np.isnan(values)
    if not keep.all():
        values = values[keep]
        bounds = np.concatenate(([0], np.cumsum(keep)))[bounds]
    values = _plus_zero(values)
    full = []
    for d, lo, hi in zip(digests, bounds[:-1].tolist(), bounds[1:].tolist()):
        if hi > lo:
            d._pending_means.append(values[lo:hi])
            d._pending_counts.append(None)
            d._pending_n += hi - lo
            d.count += hi - lo
            if d._full():
                full.append(d)
    compact_many(full)


def _splice(means, counts, offsets, segs, new_m, new_c, new_off):
    """Flat digests with the segments ``segs`` (ascending) replaced by
    the flat ``new_*`` digests, in order."""
    sizes = np.diff(offsets)
    keep = np.ones(sizes.size, dtype=bool)
    keep[segs] = False
    sizes[segs] = np.diff(new_off)
    out_off = np.concatenate(([0], np.cumsum(sizes)))
    src = _ranges(offsets[:-1][keep], sizes[keep])
    dst = _ranges(out_off[:-1][keep], sizes[keep])
    new = _ranges(out_off[:-1][segs], sizes[segs])
    out_m = np.empty(int(out_off[-1]), dtype=np.float64)
    out_c = np.empty(out_m.size, dtype=np.int64)
    out_m[dst], out_c[dst] = means[src], counts[src]
    out_m[new], out_c[new] = new_m, new_c
    return out_m, out_c, out_off


def fold_chunks(
    means, counts, offsets, seg, compression, ncompactions, count,
    prefix=None, final=True,
):
    """Add chunks of centroids to digests in order, as ``add_centroids``
    one chunk at a time would, with every digest on flat arrays.

    Chunk k (centroids ``offsets[k]:offsets[k+1]``, ``offsets`` starting
    at 0) goes to digest ``seg[k]``; ``seg`` is non-decreasing.  A
    digest starts from its ``prefix`` centroids (flat means, counts,
    offsets: stored then pending, as ``compact`` concatenates them; none
    when omitted; pending ones only without ``final``).  It compacts right
    after the chunk that brings its centroids to the flush threshold;
    the digests that reach such a point in the same round compact in one
    :func:`_compact_segments`, so a round costs flat passes however many
    digests take part.  With ``final`` every digest that still holds
    pending centroids compacts at the end, like ``centroid_arrays``.
    ``compression``, ``ncompactions`` and ``count`` are per digest.

    Returns ``((means, counts, offsets), compacted, ncompactions, count,
    pending)``: every digest's prefix, replaced by its last compaction
    where ``compacted``; and ``pending``, its first chunk added after
    that compaction (the chunks from there on stay pending)."""
    nseg = compression.size
    bounds = np.searchsorted(seg, np.arange(nseg + 1))
    lo, hi = bounds[:-1], bounds[1:]
    if prefix is None:
        prefix = (np.empty(0), np.empty(0, np.int64), np.zeros(nseg + 1, np.int64))
    pm, pc, poff = prefix
    csize = np.diff(offsets)
    ccount = np.concatenate(([0], np.cumsum(counts)))
    count = count + ccount[offsets[hi]] - ccount[offsets[lo]]
    limit = np.maximum(10 * compression, _MIN_FLUSH)
    ncomp = np.array(ncompactions, dtype=np.int64)
    compacted = np.zeros(nseg, dtype=bool)
    p = lo.copy()
    act = np.flatnonzero(p < hi)
    while act.size:
        # the first chunk of each active digest that fills it
        n = hi[act] - p[act]
        j = _ranges(p[act], n)
        d = np.repeat(act, n)
        fill = np.diff(poff)[d] + offsets[j + 1] - offsets[p[d]]
        full = (csize[j] > 0) & (fill >= limit[d])
        flushing, first = np.unique(d[full], return_index=True)
        end = hi.copy()
        end[flushing] = j[full][first] + 1
        due = np.zeros(nseg, dtype=bool)
        due[flushing] = True
        if final:
            due[act] |= offsets[hi[act]] > offsets[p[act]]
        comp = np.flatnonzero(due)
        if not comp.size:
            break
        # each compacting digest's prefix, then its chunks up to the flush
        n_pre = np.diff(poff)[comp]
        n_new = offsets[end[comp]] - offsets[p[comp]]
        soff = np.concatenate(([0], np.cumsum(n_pre + n_new)))
        dst_pre = _ranges(soff[:-1], n_pre)
        dst_new = _ranges(soff[:-1] + n_pre, n_new)
        src_pre = _ranges(poff[:-1][comp], n_pre)
        src_new = _ranges(offsets[p[comp]], n_new)
        m = np.empty(int(soff[-1]), dtype=np.float64)
        c = np.empty(m.size, dtype=np.int64)
        m[dst_pre], c[dst_pre] = pm[src_pre], pc[src_pre]
        m[dst_new], c[dst_new] = means[src_new], counts[src_new]
        cs = np.concatenate(([0], np.cumsum(c)))
        out = _compact_segments(
            m, c, c, soff, cs[soff[1:]] - cs[soff[:-1]],
            compression[comp], ncomp[comp] % 2 == 0,  # odd after +1 → reverse
        )
        pm, pc, poff = _splice(pm, pc, poff, comp, *out)
        ncomp[comp] += 1
        compacted[comp] = True
        p[comp] = end[comp]
        act = flushing[p[flushing] < hi[flushing]]
    return (pm, pc, poff), compacted, ncomp, count, p


def merge_into(digests, seg, means, counts, offsets) -> None:
    """``digests[seg[k]].merge_digest(chunk k)`` for every chunk k in
    order (``decode_many``'s flat layout, see :func:`fold_chunks`), as
    one :func:`fold_chunks`.  Each digest compacts at the same points as
    the one-by-one fold and keeps what follows its last compaction
    pending, as one chunk."""
    if not digests:
        return
    chunks_m = [a for d in digests for a in (d.means, *d._pending_means)]
    chunks_c = [
        np.ones(m.size, dtype=np.int64) if c is None else c
        for d in digests
        for m, c in zip((d.means, *d._pending_means), (d.counts, *d._pending_counts))
    ]
    sizes = np.fromiter((d.means.size + d._pending_n for d in digests), np.int64, len(digests))
    (pm, pc, poff), compacted, ncomp, count, pending = fold_chunks(
        means, counts, offsets, seg,
        np.fromiter((d.compression for d in digests), np.int64, len(digests)),
        np.fromiter((d.ncompactions for d in digests), np.int64, len(digests)),
        np.fromiter((d.count for d in digests), np.int64, len(digests)),
        prefix=(np.concatenate(chunks_m), np.concatenate(chunks_c),
                np.concatenate(([0], np.cumsum(sizes)))),
        final=False,
    )
    ends = np.searchsorted(seg, np.arange(1, len(digests) + 1))
    for d, done, a, b, lo, hi, k, n in zip(
        digests, compacted.tolist(), poff[:-1].tolist(), poff[1:].tolist(),
        offsets[pending].tolist(), offsets[ends].tolist(), ncomp.tolist(), count.tolist(),
    ):
        if done:
            d.means, d.counts = pm[a:b], pc[a:b]
            d._pending_means, d._pending_counts, d._pending_n = [], [], 0
        if hi > lo:
            d._pending_means.append(means[lo:hi])
            d._pending_counts.append(counts[lo:hi])
            d._pending_n += hi - lo
        d.ncompactions, d.count = k, n


def generate_counts(compression: int, count: int) -> np.ndarray:
    """Closed-form centroid weights for a single value repeated ``count``
    times — tdigest_generate (tdigest.c:1055-1146)."""
    count = int(count)
    if count <= 1:
        return np.array([count], dtype=np.int64)
    denom = 2.0 * math.pi * count * math.log(count)
    normalizer = compression / denom
    fcount = float(count)

    out: list[int] = []
    s = 0
    remaining = count
    while remaining > 0:
        q0 = s / fcount
        r1 = q0 * (1.0 - q0) / normalizer
        b = fcount - 2.0 * s - fcount * fcount * normalizer
        c = s * fcount - float(s) * float(s)
        sq = math.sqrt(max(b * b + 4.0 * c, 0.0))
        r2 = max((-b - sq) / -2.0, (-b + sq) / -2.0)
        proposed = max(int(math.floor(min(r1, r2))), 1)  # tdigest.c:1121-1127
        proposed = min(proposed, remaining)
        out.append(proposed)
        s += proposed
        remaining -= proposed
    return np.asarray(out, dtype=np.int64)


# ----------------------------------------------------------------------
# estimators over raw centroid arrays
# ----------------------------------------------------------------------
def compute_quantiles(
    means: np.ndarray, counts: np.ndarray, total: int, ps: np.ndarray
) -> np.ndarray:
    """Quantile estimation — tdigest_compute_quantiles (tdigest.c:547-646).

    Vectorized over the percentile vector: centroid lookup via
    searchsorted on the cumulative counts, then the same half-count
    linear interpolation as the reference.
    """
    n = means.size
    out = np.empty(ps.size, dtype=np.float64)
    if n == 0 or total <= 0:
        out[:] = np.nan
        return out
    ccum = np.cumsum(counts).astype(np.float64)
    goals = ps * float(total)

    # first/last centroid for p == 0.0 / 1.0 (tdigest.c:573-586)
    lo_mask = ps == 0.0
    hi_mask = ps == 1.0
    mid = ~(lo_mask | hi_mask)
    out[lo_mask] = means[0]
    out[hi_mask] = means[-1]
    if not mid.any():
        return out

    g = goals[mid]
    # j = first centroid where cumulative count strictly exceeds goal
    j = np.searchsorted(ccum, g, side="right")
    j = np.minimum(j, n - 1)
    cnt_before = ccum[j] - counts[j]
    cj = counts[j].astype(np.float64)
    delta = g - cnt_before - cj / 2.0

    res = np.empty(g.size, dtype=np.float64)
    exact = np.abs(delta) < 1e-9  # tdigest.c:602-612
    res[exact] = means[j[exact]]

    right = delta > 0.0
    # clamp at array ends → centroid mean (tdigest.c:620-625)
    clamp_hi = right & (j + 1 >= n)
    clamp_lo = (~right) & (j - 1 < 0)
    clamped = (clamp_hi | clamp_lo) & ~exact
    res[clamped] = means[j[clamped]]

    interp = ~(exact | clamped)
    if interp.any():
        ji = j[interp]
        ri = right[interp]
        prev = np.where(ri, ji, ji - 1)
        nxt = np.where(ri, ji + 1, ji)
        cnt = cnt_before[interp] + np.where(
            ri, counts[ji] / 2.0, -(counts[ji - 1] / 2.0)
        )
        slope = (means[nxt] - means[prev]) / (counts[nxt] / 2.0 + counts[prev] / 2.0)
        res[interp] = means[prev] + slope * (g[interp] - cnt)
    out[mid] = res
    return out


def compute_quantiles_of(
    means: np.ndarray, counts: np.ndarray, total: int, values: np.ndarray
) -> np.ndarray:
    """Inverse CDF — tdigest_compute_quantiles_of (tdigest.c:653-739)."""
    n = means.size
    out = np.empty(values.size, dtype=np.float64)
    if n == 0 or total <= 0:
        out[:] = np.nan
        return out
    ccum = np.cumsum(counts)
    ftotal = float(total)

    # j = first centroid with mean >= value; count below = ccum[j-1]
    j = np.searchsorted(means, values, side="left")
    ge_end = j >= n  # value above the largest mean → 1 (tdigest.c:706-710)
    j_c = np.minimum(j, n - 1)
    cnt_below = np.where(j_c > 0, ccum[j_c - 1], 0).astype(np.float64)

    # exact mean match: sum counts of ALL equal-mean centroids
    # (tdigest.c:689-705)
    j_hi = np.searchsorted(means, values, side="right")
    is_exact = (~ge_end) & (j_hi > j)
    cnt_at = np.where(
        is_exact,
        ccum[np.minimum(j_hi, n) - 1] - np.where(j_c > 0, ccum[j_c - 1], 0),
        0,
    ).astype(np.float64)

    below_min = (~ge_end) & (~is_exact) & (j == 0)  # tdigest.c:711-715

    out[ge_end] = 1.0
    out[is_exact] = (cnt_below[is_exact] + cnt_at[is_exact] / 2.0) / ftotal
    out[below_min] = 0.0

    interp = ~(ge_end | is_exact | below_min)
    if interp.any():
        ji = j[interp]
        prev = ji - 1
        # NB: integer division of the prev count, exactly as the C code
        # (`count -= (prev->count / 2);` tdigest.c:726 — int64 division)
        cnt = cnt_below[interp] - (counts[prev] // 2).astype(np.float64)
        m = (means[ji] - means[prev]) / (counts[ji] / 2.0 + counts[prev] / 2.0)
        x = (values[interp] - means[prev]) / m
        out[interp] = (cnt + x) / ftotal
    return out


def trimmed_agg(
    means: np.ndarray, counts: np.ndarray, total: int, low: float, high: float
) -> tuple[float, int]:
    """Trimmed (sum, count) — tdigest_trimmed_agg (tdigest.c:3306-3357).

    Clips each centroid's contribution to the [floor(N*low), ceil(N*high))
    count window; whole-centroid-mean approximation, no sub-centroid
    interpolation.
    """
    if means.size == 0 or total <= 0:
        return 0.0, 0
    count_low = math.floor(total * low)
    count_high = math.ceil(total * high)
    prefix_before = np.cumsum(counts) - counts
    add = counts - np.minimum(np.maximum(0, count_low - prefix_before), counts)
    add = np.minimum(np.maximum(0, count_high - prefix_before), add)
    return float(np.dot(means, add.astype(np.float64))), int(add.sum())


# ----------------------------------------------------------------------
# serialization: wire, text, json, double-array
# ----------------------------------------------------------------------
_HEADER = struct.Struct(">iqii")  # flags, count, compression, ncentroids


def serialize(means: np.ndarray, counts: np.ndarray, count: int, compression: int) -> bytes:
    """Big-endian wire format of tdigest_send (tdigest.c:2918-2939)."""
    n = means.size
    header = _HEADER.pack(TDIGEST_STORES_MEAN, count, compression, n)
    return header + _wire_pairs(means, counts).tobytes() if n else header


def _wire_pairs(means: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Big-endian (mean, count) wire pairs, one 16-byte record each."""
    pairs = np.empty(means.size, dtype=_PAIR_DT)
    pairs["mean"] = means
    pairs["count"] = counts
    return pairs


# the wire header and centroid as NumPy records, for decoding/encoding
# many blobs
_HEADER_DT = np.dtype(
    [("flags", ">i4"), ("count", ">i8"), ("compression", ">i4"), ("n", ">i4")]
)
_PAIR_DT = np.dtype([("mean", ">f8"), ("count", ">i8")])
_COMPRESSION_MSG = (
    f"compression for t-digest must be in [{MIN_COMPRESSION}, {MAX_COMPRESSION}]"
)


# The wire rules below are written once and evaluated either over
# per-blob arrays (the batch codec) or over one blob's Python scalars
# (deserialize): only comparisons, &, | and ^ True appear, which mean
# the same on both.
def _frame_checks(length, flags, count, n) -> tuple[list, object, object]:
    """Header/framing rules of tdigest_recv (tdigest.c:2826-2916), in
    order; also returns which blobs carry a body and which are the
    header-only empty digest serialize() emits (count=0, n=0)."""
    fits = length == _HEADER.size + 16 * n
    framed = fits & (n >= 0)
    good = framed & ((flags & ~TDIGEST_STORES_MEAN) == 0)
    empty = good & (n == 0) & (count == 0)
    checks = [
        (length < _HEADER.size, "t-digest binary value too short"),
        ((length >= _HEADER.size) & (fits ^ True), "t-digest binary length mismatch"),
        (fits & (n < 0), "number of centroids for the t-digest must be positive"),
        (framed & (good ^ True), "invalid flags for t-digest"),
    ]
    return checks, good & (empty ^ True), empty


def _digest_checks(means, counts, sizes, count, compression, seg=None) -> list:
    """Invariants of tdigest_in/tdigest_recv (SURVEY §1.3), in the order
    the reference applies them.  ``sizes``/``count``/``compression``
    are per-digest arrays with ``seg`` the digest of each centroid, or
    one digest's scalars (``seg`` None).  The per-centroid rules are
    reduced per digest only when one fails somewhere."""
    down = np.diff(means) < 0
    if seg is not None:
        down &= seg[1:] == seg[:-1]
    per_centroid = [
        (counts <= 0, "count value for all centroids in the t-digest must be positive"),
        (np.isnan(means), "centroid mean must not be NaN"),
        (counts > (count if seg is None else count[seg]),
         "count value of a centroid exceeds digest count"),
        (np.concatenate(([False], down)),
         "centroids must be sorted by mean in ascending order"),
    ]
    failed = [bool(m.any()) for m, _ in per_centroid]
    if seg is None:
        per_centroid = [(f, msg) for f, (_, msg) in zip(failed, per_centroid)]
        total = int(counts.sum())
    else:
        nseg = sizes.size
        per_centroid = [
            (np.bincount(seg[m], minlength=nseg) > 0 if f else np.zeros(nseg, dtype=bool), msg)
            for f, (m, msg) in zip(failed, per_centroid)
        ]
        csum = np.concatenate(([0], np.cumsum(counts)))
        ends = np.cumsum(sizes)
        total = csum[ends] - csum[ends - sizes]
    return [
        ((compression < MIN_COMPRESSION) | (compression > MAX_COMPRESSION),
         _COMPRESSION_MSG),
        (count <= 0, "count value for the t-digest must be positive"),
        (sizes <= 0, "number of centroids for the t-digest must be positive"),
        (sizes > 10 * compression,
         "number of centroids for the t-digest exceeds buffer size"),
        *per_centroid,
        (total != count, "total count of centroids does not match digest count"),
    ]


def _raise_first(checks) -> None:
    """Raise the message of the first failing check of the first digest
    that fails any — what checking the digests one by one would raise."""
    masks = [np.atleast_1d(m) for m, _ in checks]
    bad = np.logical_or.reduce(masks)
    if bad.any():
        b = int(np.argmax(bad))
        raise ValueError(next(msg for m, (_, msg) in zip(masks, checks) if m[b]))


def _validate(
    means: np.ndarray, counts: np.ndarray, count: int, compression: int, flags: int
) -> None:
    """Invariants of one digest (tdigest_in/tdigest_recv)."""
    if flags & ~TDIGEST_STORES_MEAN:
        raise ValueError("invalid flags for t-digest")
    for failed, msg in _digest_checks(means, counts, means.size, count, compression):
        if failed:
            raise ValueError(msg)


def _decode(data: np.ndarray, starts: np.ndarray, lengths: np.ndarray):
    """Parse + validate the blobs ``data[starts[b]:starts[b] + lengths[b]]``
    with one header gather and one body gather.  Returns flat (means,
    counts, offsets, count, compression) with digest b's centroids at
    ``offsets[b]:offsets[b+1]``.

    Accepts the legacy flags=0 (sum,count) layout by dividing sum/count
    on read (tdigest_update_format, tdigest.c:832-864), and the
    header-only blob serialize() emits for an empty digest: the
    reference wire format never carries empty digests — its aggregates
    return NULL instead — but kernel users may persist a digest before
    data arrives.  The strict text format (from_string) keeps reference
    parity and still rejects empty."""
    hsize = _HEADER.size
    has_header = lengths >= hsize
    hdr = np.zeros(starts.size, dtype=_HEADER_DT)
    hdr[has_header] = _records(data, _HEADER_DT)[starts[has_header]]
    flags = hdr["flags"].astype(np.int64)
    count = hdr["count"].astype(np.int64)
    compression = hdr["compression"].astype(np.int64)
    n = hdr["n"].astype(np.int64)
    checks, body, empty = _frame_checks(lengths, flags, count, n)
    sizes = np.where(body, n, 0)
    offsets = np.concatenate(([0], np.cumsum(sizes)))

    # the 16-byte (mean, count) pair of every centroid of every kept
    # blob, in order: one gather for all of them
    pos = np.repeat(starts[body] + hsize - 16 * offsets[:-1][body], sizes[body])
    means, counts = _centroids(_records(data, _PAIR_DT)[pos + 16 * np.arange(offsets[-1])])
    legacy = body & ((flags & TDIGEST_STORES_MEAN) == 0)
    if legacy.any():
        with np.errstate(divide="ignore", invalid="ignore"):
            means = np.where(np.repeat(legacy, sizes), means / counts, means)

    seg = np.repeat(np.arange(sizes.size), sizes)
    _raise_first(_wire_checks(
        checks, body, empty, _digest_checks(means, counts, sizes, count, compression, seg)
    ))
    return means, counts, offsets, count, compression


def _wire_checks(frame, body, empty, digest) -> list:
    """Frame rules, then the digest rules of every blob with a body; an
    empty digest is only checked for its compression."""
    return frame + [
        ((body | empty) & mask if msg == _COMPRESSION_MSG else body & mask, msg)
        for mask, msg in digest
    ]


def _records(data: np.ndarray, dtype: np.dtype) -> np.ndarray:
    """A view of the byte array ``data`` with a ``dtype`` record starting
    at every byte: indexing it with byte offsets reads (or writes) the
    records there in one gather (or scatter)."""
    n = max(data.size - dtype.itemsize + 1, 0)
    return np.ndarray((n,), dtype=dtype, buffer=data, strides=(1,))


def _centroids(pairs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(means, counts) of big-endian (mean, count) wire pairs — the
    inverse of :func:`_wire_pairs`."""
    return pairs["mean"].astype(np.float64), pairs["count"].astype(np.int64)


def decode_many(blobs):
    """Decode a pyarrow (large_)binary array of wire-format digests in one
    pass (see :func:`_decode`).  Null entries are skipped: returns
    ``(rows, means, counts, offsets, count, compression)`` where
    ``rows`` are the positions of the decoded (non-null) blobs."""
    import pyarrow as pa

    if isinstance(blobs, pa.ChunkedArray):
        blobs = blobs.combine_chunks()
    width = np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
    _, off_buf, data_buf = blobs.buffers()
    offs = np.frombuffer(off_buf, dtype=width, count=len(blobs) + 1,
                         offset=blobs.offset * np.dtype(width).itemsize).astype(np.int64)
    data = (np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None
            else np.empty(0, dtype=np.uint8))
    if blobs.null_count:
        from tdigest_spark.kernel.arrownp import arrow_bools

        rows = np.flatnonzero(arrow_bools(blobs.is_valid()))
    else:
        rows = np.arange(len(blobs))
    starts = offs[rows]
    return (rows, *_decode(data, starts, offs[rows + 1] - starts))


def digest_views(means, counts, offsets, count, compression):
    """A ``TDigest`` per flat digest (digest b = centroids
    ``offsets[b]:offsets[b+1]``, as :func:`decode_many` and
    :func:`fold_chunks` return them) whose centroid arrays are slices of
    the flat ones, not copies: for estimators, which only read them."""
    for lo, hi, n, c in zip(
        offsets[:-1].tolist(), offsets[1:].tolist(), count.tolist(), compression.tolist()
    ):
        d = TDigest(c)
        d.means, d.counts, d.count = means[lo:hi], counts[lo:hi], n
        yield d


def encode_many(means, counts, offsets, count, compression):
    """Wire format of many digests (digest b = centroids
    ``offsets[b]:offsets[b+1]``) as one pyarrow binary array, built in
    one buffer."""
    import pyarrow as pa

    sizes = np.diff(offsets)
    nblob = sizes.size
    blen = _HEADER.size + 16 * sizes
    boff = np.concatenate(([0], np.cumsum(blen)))
    hdr = np.empty(nblob, dtype=_HEADER_DT)
    hdr["flags"] = TDIGEST_STORES_MEAN
    hdr["count"] = count
    hdr["compression"] = compression
    hdr["n"] = sizes
    out = np.empty(int(boff[-1]), dtype=np.uint8)
    _records(out, _HEADER_DT)[boff[:-1]] = hdr
    pos = np.repeat(boff[:-1] + _HEADER.size - 16 * offsets[:-1], sizes)
    _records(out, _PAIR_DT)[pos + 16 * np.arange(means.size)] = _wire_pairs(means, counts)
    large = boff[-1] >= 1 << 31
    return pa.Array.from_buffers(
        pa.large_binary() if large else pa.binary(), nblob,
        [None, pa.py_buffer(boff.astype(np.int64 if large else np.int32)),
         pa.py_buffer(out)],
    )


def deserialize(data: bytes) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Parse + validate one wire-format blob: :func:`_decode`'s rules
    evaluated on one blob's scalars."""
    size = len(data)
    flags, count, compression, n = (
        _HEADER.unpack_from(data, 0) if size >= _HEADER.size else (0, 0, 0, 0)
    )
    checks, body, empty = _frame_checks(size, flags, count, n)
    means, counts = _centroids(
        np.frombuffer(data, dtype=_PAIR_DT, count=n, offset=_HEADER.size)
        if body else np.empty(0, dtype=_PAIR_DT)
    )
    if body and not flags & TDIGEST_STORES_MEAN:
        with np.errstate(divide="ignore", invalid="ignore"):
            means = means / counts
    digest = _digest_checks(means, counts, n, count, compression)
    for failed, msg in _wire_checks(checks, body, empty, digest):
        if failed:
            raise ValueError(msg)
    return means, counts, int(count), int(compression)


def to_string(means: np.ndarray, counts: np.ndarray, count: int, compression: int) -> str:
    """Text format of tdigest_out (tdigest.c:2798-2824); means with %lf
    (6 decimals)."""
    parts = [
        f"flags {TDIGEST_STORES_MEAN} count {count} "
        f"compression {compression} centroids {means.size}"
    ]
    parts.extend(f" ({m:.6f}, {c})" for m, c in zip(means.tolist(), counts.tolist()))
    return "".join(parts)


_HEADER_RE = re.compile(
    r"^flags (-?\d+) count (-?\d+) compression (-?\d+) centroids (-?\d+)"
)
_CENTROID_RE = re.compile(r"\s*\((-?(?:\d+\.?\d*(?:[eE][-+]?\d+)?|\.\d+|nan|inf)),\s*(-?\d+)\)")


def from_string(text: str) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Parse + validate text format (tdigest_in, tdigest.c:2612-2796)."""
    m = _HEADER_RE.match(text.strip())
    if not m:
        raise ValueError("failed to parse t-digest value")
    flags, count, compression, n = (int(x) for x in m.groups())
    if flags & ~TDIGEST_STORES_MEAN:
        raise ValueError("invalid flags for t-digest")
    check_compression(compression)
    if count <= 0:
        raise ValueError("count value for the t-digest must be positive")
    if n <= 0:
        raise ValueError("number of centroids for the t-digest must be positive")
    if n > buffer_size(compression):
        raise ValueError("number of centroids for the t-digest exceeds buffer size")
    rest = text.strip()[m.end():]
    pairs = _CENTROID_RE.findall(rest)
    if len(pairs) != n:
        raise ValueError("failed to parse centroid")
    means = np.array([float(a) for a, _ in pairs], dtype=np.float64)
    counts = np.array([int(b) for _, b in pairs], dtype=np.int64)
    if not (flags & TDIGEST_STORES_MEAN):
        means = means / counts
    _validate(means, counts, count, compression, TDIGEST_STORES_MEAN)
    return means, counts, count, compression


def to_json(means: np.ndarray, counts: np.ndarray, count: int, compression: int) -> str:
    """JSON cast — tdigest_to_json (tdigest.c:2964-3021).  Reproduces the
    reference layout including the duplicated "count" key and %g mean
    formatting."""
    mean_s = ", ".join(f"{m:g}" for m in means.tolist())
    count_s = ", ".join(str(c) for c in counts.tolist())
    return (
        f'{{"flags": {TDIGEST_STORES_MEAN}, "count": {count}, '
        f'"compression": {compression}, "centroids": {means.size}, '
        f'"mean": [{mean_s}], "count": [{count_s}]}}'
    )


def to_double_array(
    means: np.ndarray, counts: np.ndarray, count: int, compression: int
) -> np.ndarray:
    """double[] cast — tdigest_to_array (tdigest.c:3039-3081):
    [flags, count, compression, ncentroids, mean1, count1, ...]."""
    out = np.empty(4 + 2 * means.size, dtype=np.float64)
    out[0] = TDIGEST_STORES_MEAN
    out[1] = count
    out[2] = compression
    out[3] = means.size
    out[4::2] = means
    out[5::2] = counts.astype(np.float64)
    return out


# ----------------------------------------------------------------------
# convenience builders
# ----------------------------------------------------------------------
def tdigest_from_values(values, compression: int = 100) -> TDigest:
    d = TDigest(compression)
    d.add_values(values)
    return d


def merge_all(digests, compression: int | None = None) -> TDigest | None:
    """Merge an iterable of TDigest into one (compression of the first
    wins unless given, tdigest.c:1491)."""
    out: TDigest | None = None
    for d in digests:
        if d is None:
            continue
        if out is None:
            out = TDigest(compression or d.compression)
        out.merge_digest(d)
    return out
