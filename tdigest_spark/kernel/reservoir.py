"""Deterministic mergeable reservoir sample (pure NumPy).

Uniform k-sample per group via the "assign every row a pseudo-random
priority, keep the k smallest" formulation: priority = splitmix64 of
the row's 64-bit hash (salted by a seed).  This makes the sample

* deterministic — same rows, same seed → same sample, regardless of
  partitioning or arrival order;
* mergeable — union the kept (priority, payload) sets and re-take the
  k smallest: exactly the sample of the union (bottom-k sketch);
* uniform — priorities are i.i.d. given a good hash (distinct rows).

Used for training-data subsampling and as the cheap exact-oracle
companion: membership of the sample in the source is exactly checkable.
"""

from __future__ import annotations

import struct

import numpy as np

from tdigest_spark.kernel import merge_sketches
from tdigest_spark.kernel.hashing import as_u64, splitmix64

_MAGIC = b"RSV1"


class Reservoir:
    __slots__ = ("k", "seed", "prios", "hashes", "n")

    def __init__(self, k: int = 100, seed: int = 42):
        if k < 1:
            raise ValueError("reservoir needs k >= 1")
        self.k = int(k)
        self.seed = int(seed)
        self.prios = np.empty(0, dtype=np.uint64)
        self.hashes = np.empty(0, dtype=np.int64)  # sampled row hashes/ids
        self.n = 0

    def add_hashes(self, row_hashes) -> None:
        """Fold row identifiers (pre-hashed int64, e.g. xxhash64 of a
        key column or a row id)."""
        h = np.asarray(row_hashes, dtype=np.int64)
        if h.size == 0:
            return
        self.n += h.size
        with np.errstate(over="ignore"):
            # mask the seed into uint64 range: np.uint64(negative)
            # raises OverflowError on NumPy 2.x
            seed_u = np.uint64(self.seed & 0xFFFFFFFFFFFFFFFF)
            prio = splitmix64(as_u64(h) + seed_u)
        all_p = np.concatenate([self.prios, prio])
        all_h = np.concatenate([self.hashes, h])
        # dedupe by priority exactly like merge() does — the sketch is a
        # bottom-k over DISTINCT hashes at every stage, otherwise a
        # duplicate arriving twice in one partition occupies two slots
        # (evicting the k-th distinct element) and the sample stops
        # being partition-invariant.  np.unique returns priorities
        # already ascending, so the bottom-k is a plain slice
        _, uniq = np.unique(all_p, return_index=True)
        self.prios = all_p[uniq][: self.k]
        self.hashes = all_h[uniq][: self.k]

    def empty(self) -> "Reservoir":
        return Reservoir(self.k, self.seed)

    def merge(self, other: "Reservoir") -> None:
        if (other.k, other.seed) != (self.k, self.seed):
            raise ValueError("cannot merge reservoirs with different (k, seed)")
        all_p = np.concatenate([self.prios, other.prios])
        all_h = np.concatenate([self.hashes, other.hashes])
        # dedupe identical rows sampled on both sides (same hash → same
        # priority), then keep the k smallest priorities (np.unique
        # output is already ascending by priority)
        _, uniq = np.unique(all_p, return_index=True)
        self.prios = all_p[uniq][: self.k]
        self.hashes = all_h[uniq][: self.k]
        self.n += other.n

    def sample_hashes(self) -> np.ndarray:
        return self.hashes.copy()

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack(">iqqi", self.k, self.seed, self.n, self.prios.size)
        return head + self.prios.astype(">u8").tobytes() + self.hashes.astype(">i8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "Reservoir":
        if data[:4] != _MAGIC:
            raise ValueError("not a reservoir sketch")
        k, seed, n, sz = struct.unpack_from(">iqqi", data, 4)
        r = cls(k, seed)
        r.n = n
        off = 4 + struct.calcsize(">iqqi")
        r.prios = np.frombuffer(data, dtype=">u8", count=sz, offset=off).astype(np.uint64)
        off += 8 * sz
        r.hashes = np.frombuffer(data, dtype=">i8", count=sz, offset=off).astype(np.int64)
        return r


merge_all_reservoir = merge_sketches
