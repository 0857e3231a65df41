"""KLL quantile sketch kernel (pure NumPy).

Karnin–Lang–Liberty 2016: a hierarchy of compactors; level h holds
items of weight 2^h with capacity ~k·c^(H-h), c = 2/3.  On overflow a
level is sorted and every other item is promoted to the next level.

Determinism: the paper flips a fair coin for the compaction offset; we
alternate a per-sketch counter instead so results are reproducible for
a given ingest/merge order (the randomized and deterministic variants
share the same worst-case error envelope in practice; our tests assert
the empirical rank error directly).

Serves as the cross-check quantile sketch next to t-digest
(BASELINE.json north rule) — uniform rank error vs t-digest's
q(1-q)-weighted error.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from tdigest_spark.kernel import merge_sketches

_MAGIC = b"KLL1"
_C = 2.0 / 3.0


class KLL:
    __slots__ = ("k", "levels", "n", "flip")

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError("KLL k must be >= 8")
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n = 0
        self.flip = 0

    # ------------------------------------------------------------------
    def _capacity(self, h: int) -> int:
        height = len(self.levels)
        return max(int(math.ceil(self.k * (_C ** (height - 1 - h)))), 2)

    def _total_capacity(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.levels)))

    def _size(self) -> int:
        return sum(lv.size for lv in self.levels)

    def add_values(self, values) -> None:
        v = np.asarray(values, dtype=np.float64).ravel()
        if v.size and np.isnan(v).any():
            v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self.levels[0] = np.concatenate([self.levels[0], v])
        self.n += v.size
        self._compress()

    def _compress(self) -> None:
        while self._size() > self._total_capacity():
            for h in range(len(self.levels)):
                if self.levels[h].size > self._capacity(h):
                    self._compact_level(h)
                    break
            else:
                break

    def _compact_level(self, h: int) -> None:
        lv = np.sort(self.levels[h])
        offset = self.flip & 1
        self.flip += 1
        if lv.size % 2 == 1:
            # odd size: the unpaired last item stays at this level so no
            # weight is silently dropped
            pairs, stay = lv[:-1], lv[-1:]
        else:
            pairs, stay = lv, np.empty(0, dtype=np.float64)
        promoted = pairs[offset::2]
        self.levels[h] = stay
        if h + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    # ------------------------------------------------------------------
    def empty(self) -> "KLL":
        return KLL(self.k)

    def merge(self, other: "KLL") -> None:
        if other.k != self.k:
            raise ValueError("cannot merge KLL sketches with different k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        for h, lv in enumerate(other.levels):
            if lv.size:
                self.levels[h] = np.concatenate([self.levels[h], lv])
        self.n += other.n
        self.flip += other.flip
        self._compress()

    # ------------------------------------------------------------------
    def _items_weights(self) -> tuple[np.ndarray, np.ndarray]:
        items = []
        weights = []
        for h, lv in enumerate(self.levels):
            if lv.size:
                items.append(lv)
                weights.append(np.full(lv.size, 1 << h, dtype=np.int64))
        if not items:
            return np.empty(0), np.empty(0, dtype=np.int64)
        it = np.concatenate(items)
        wt = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], wt[order]

    def quantiles(self, ps) -> np.ndarray:
        ps = np.asarray(ps, dtype=np.float64)
        it, wt = self._items_weights()
        out = np.full(ps.size, np.nan)
        if it.size == 0:
            return out
        csum = np.cumsum(wt)
        total = csum[-1]
        goals = np.clip(ps, 0, 1) * total
        idx = np.minimum(np.searchsorted(csum, goals, side="left"), it.size - 1)
        return it[idx]

    def quantile(self, p: float) -> float:
        return float(self.quantiles([p])[0])

    def rank_of(self, values) -> np.ndarray:
        vs = np.asarray(values, dtype=np.float64)
        it, wt = self._items_weights()
        if it.size == 0:
            return np.full(vs.size, np.nan)
        csum = np.cumsum(wt)
        total = float(csum[-1])
        idx = np.searchsorted(it, vs, side="right")
        below = np.where(idx > 0, csum[np.maximum(idx - 1, 0)], 0)
        return below / total

    # ------------------------------------------------------------------
    def to_bytes(self) -> bytes:
        head = _MAGIC + struct.pack(">iqiq", self.k, self.n, len(self.levels), self.flip)
        parts = [head]
        for lv in self.levels:
            parts.append(struct.pack(">i", lv.size))
            parts.append(lv.astype(">f8").tobytes())
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "KLL":
        if data[:4] != _MAGIC:
            raise ValueError("not a KLL sketch")
        k, n, nlevels, flip = struct.unpack_from(">iqiq", data, 4)
        s = cls(k)
        s.n = n
        s.flip = flip
        s.levels = []
        off = 4 + struct.calcsize(">iqiq")
        for _ in range(nlevels):
            (sz,) = struct.unpack_from(">i", data, off)
            off += 4
            lv = np.frombuffer(data, dtype=">f8", count=sz, offset=off).astype(np.float64)
            off += 8 * sz
            s.levels.append(lv)
        if not s.levels:
            s.levels = [np.empty(0, dtype=np.float64)]
        return s


merge_all_kll = merge_sketches
