"""Count-min sketch kernel (pure NumPy).

Cormode & Muthukrishnan 2005: d×w counter matrix, point estimate =
min over rows, one-sided error ≤ ε·N with ε = e/w at confidence
1 - (1/e)^d.  Rows are addressed with Kirsch–Mitzenmacher double
hashing derived from one 64-bit input hash, so the Spark layer hashes
each value exactly once (JVM xxhash64).  Merging = element-wise add.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from tdigest_spark.kernel import merge_sketches
from tdigest_spark.kernel.hashing import as_u64, double_hash

_MAGIC = b"CMS1"


class CountMin:
    __slots__ = ("width", "depth", "table", "total")

    def __init__(self, width: int = 2048, depth: int = 5):
        if width < 8 or depth < 1 or depth > 32:
            raise ValueError("count-min needs width >= 8 and 1 <= depth <= 32")
        self.width = int(width)
        self.depth = int(depth)
        self.table = np.zeros((self.depth, self.width), dtype=np.int64)
        self.total = 0

    @classmethod
    def from_error(cls, epsilon: float = 0.001, delta: float = 0.01) -> "CountMin":
        width = int(math.ceil(math.e / epsilon))
        depth = int(math.ceil(math.log(1.0 / delta)))
        return cls(width, depth)

    def add_hashes(self, hashes, counts=None) -> None:
        h = as_u64(hashes)
        if h.size == 0:
            return
        if counts is None:
            counts = np.ones(h.size, dtype=np.int64)
        else:
            counts = np.asarray(counts, dtype=np.int64)
        for i in range(self.depth):
            idx = double_hash(h, i, self.width)
            np.add.at(self.table[i], idx, counts)
        self.total += int(counts.sum())

    def estimate_hashes(self, hashes) -> np.ndarray:
        h = as_u64(hashes)
        est = np.full(h.size, np.iinfo(np.int64).max, dtype=np.int64)
        for i in range(self.depth):
            idx = double_hash(h, i, self.width)
            np.minimum(est, self.table[i][idx], out=est)
        return est

    def empty(self) -> "CountMin":
        return CountMin(self.width, self.depth)

    def merge(self, other: "CountMin") -> None:
        if (other.width, other.depth) != (self.width, self.depth):
            raise ValueError("cannot merge count-min sketches of different shape")
        self.table += other.table
        self.total += other.total

    @property
    def epsilon(self) -> float:
        return math.e / self.width

    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack(">iiq", self.width, self.depth, self.total)
        return head + self.table.astype(">i8").tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMin":
        if data[:4] != _MAGIC:
            raise ValueError("not a count-min sketch")
        width, depth, total = struct.unpack_from(">iiq", data, 4)
        cm = cls(width, depth)
        body = np.frombuffer(data, dtype=">i8", offset=4 + 16)
        if body.size != width * depth:
            raise ValueError("count-min table length mismatch")
        cm.table = body.reshape(depth, width).astype(np.int64)
        cm.total = total
        return cm


merge_all_cm = merge_sketches
