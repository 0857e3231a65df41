"""HyperLogLog kernel (pure NumPy).

Standard HLL per Flajolet et al. 2007 with the small-range linear
counting correction; registers merge by element-wise max, which makes
the sketch a mergeable aggregate for the two-phase Spark pipeline.
Default precision p=14 → 16384 registers, σ ≈ 1.04/√m ≈ 0.81 %.

Role in the library: the reference extension covers quantiles only;
BASELINE.json's north rule adds HLL/count-min/KLL/Bloom as companion
mergeable sketches over the same aggregation skeleton.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from tdigest_spark.kernel import merge_sketches
from tdigest_spark.kernel.hashing import as_u64

_MAGIC = b"HLL1"


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


class HLL:
    __slots__ = ("p", "m", "regs")

    def __init__(self, p: int = 14):
        if not 4 <= p <= 18:
            raise ValueError("HLL precision must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.regs = np.zeros(self.m, dtype=np.uint8)

    def add_hashes(self, hashes) -> None:
        """Fold pre-hashed 64-bit values (Spark xxhash64 output)."""
        h = as_u64(hashes)
        if h.size == 0:
            return
        p = np.uint64(self.p)
        idx = (h >> (np.uint64(64) - p)).astype(np.int64)
        rem = (h << p).astype(np.uint64)  # top 64-p bits shifted up
        # leading-zero count of rem via exact float64 log2 on 32-bit halves
        hi = (rem >> np.uint64(32)).astype(np.float64)
        lo = (rem & np.uint64(0xFFFFFFFF)).astype(np.float64)
        with np.errstate(divide="ignore"):
            clz = np.where(
                hi > 0,
                31 - np.floor(np.log2(hi)),
                np.where(lo > 0, 63 - np.floor(np.log2(lo)), 64),
            )
        rho = np.minimum(clz + 1, 64 - self.p + 1).astype(np.uint8)
        np.maximum.at(self.regs, idx, rho)

    def empty(self) -> "HLL":
        return HLL(self.p)

    def merge(self, other: "HLL") -> None:
        if other.p != self.p:
            raise ValueError("cannot merge HLL sketches with different precision")
        np.maximum(self.regs, other.regs, out=self.regs)

    def estimate(self) -> float:
        m = float(self.m)
        est = _alpha(self.m) * m * m / float(np.sum(np.ldexp(1.0, -self.regs.astype(np.int64))))
        if est <= 2.5 * m:
            zeros = int(np.count_nonzero(self.regs == 0))
            if zeros:
                return m * math.log(m / zeros)
        return est

    def cardinality(self) -> int:
        return int(round(self.estimate()))

    # serialization: magic | p | raw registers
    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack(">B", self.p) + self.regs.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "HLL":
        if data[:4] != _MAGIC:
            raise ValueError("not an HLL sketch")
        p = struct.unpack_from(">B", data, 4)[0]
        h = cls(p)
        regs = np.frombuffer(data, dtype=np.uint8, offset=5)
        if regs.size != h.m:
            raise ValueError("HLL register array length mismatch")
        h.regs = regs.copy()
        return h


merge_all_hll = merge_sketches
