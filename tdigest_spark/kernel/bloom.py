"""Bloom filter kernel (pure NumPy bit array).

k hash functions via Kirsch–Mitzenmacher double hashing from one
64-bit input hash; no false negatives; false-positive rate
≈ (1 - e^{-kn/m})^k.  Merge = bitwise OR (same (m, k) required).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from tdigest_spark.kernel import merge_sketches
from tdigest_spark.kernel.hashing import as_u64, double_hash

_MAGIC = b"BLM1"


class Bloom:
    __slots__ = ("m", "k", "bits", "n_added")

    def __init__(self, m: int = 1 << 20, k: int = 5):
        if m < 64 or k < 1 or k > 32:
            raise ValueError("bloom needs m >= 64 bits and 1 <= k <= 32")
        self.m = int(m)
        self.k = int(k)
        self.bits = np.zeros((self.m + 7) // 8, dtype=np.uint8)
        self.n_added = 0

    @classmethod
    def from_capacity(cls, n: int, fpp: float = 0.01) -> "Bloom":
        """Size for expected n items at target false-positive rate."""
        m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
        m = max(m, 64)
        k = max(1, int(round(m / n * math.log(2)))) if n > 0 else 1
        return cls(m, min(k, 32))

    def _bit_positions(self, hashes) -> np.ndarray:
        h = as_u64(hashes)
        return np.stack([double_hash(h, i, self.m) for i in range(self.k)])

    def add_hashes(self, hashes) -> None:
        h = as_u64(hashes)
        if h.size == 0:
            return
        pos = self._bit_positions(h).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        self.n_added += int(h.size)

    def contains_hashes(self, hashes) -> np.ndarray:
        h = as_u64(hashes)
        if h.size == 0:
            return np.zeros(0, dtype=bool)
        pos = self._bit_positions(h)  # (k, n)
        present = (self.bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        return present.all(axis=0)

    def empty(self) -> "Bloom":
        return Bloom(self.m, self.k)

    def merge(self, other: "Bloom") -> None:
        if (other.m, other.k) != (self.m, self.k):
            raise ValueError("cannot merge bloom filters of different shape")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_added += other.n_added

    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.bits).sum()) / self.m

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack(">qiq", self.m, self.k, self.n_added)
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "Bloom":
        if data[:4] != _MAGIC:
            raise ValueError("not a bloom filter")
        m, k, n_added = struct.unpack_from(">qiq", data, 4)
        b = cls(m, k)
        bits = np.frombuffer(data, dtype=np.uint8, offset=4 + 20)
        if bits.size != (m + 7) // 8:
            raise ValueError("bloom bit array length mismatch")
        b.bits = bits.copy()
        b.n_added = n_added
        return b


merge_all_bloom = merge_sketches
