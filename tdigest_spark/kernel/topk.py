"""SpaceSaving top-k / heavy-hitters kernel (pure Python/NumPy dicts).

Metwally et al. 2005: maintain m (item, count, error) counters; an
unseen item evicts the minimum counter and inherits its count as error.
Guarantees: count_est ∈ [true, true + error], error ≤ N/m, and every
item with true frequency > N/m is retained.  When the number of
distinct items never exceeds m the sketch is EXACT — which the driver
queries exploit for exact-oracle checks.

Merge (Agarwal et al. 2013 mergeable-summaries recipe): sum counts and
errors of matching items; items missing from one side inherit that
side's minimum-evicted baseline as additional error; keep top-m.
"""

from __future__ import annotations

import struct

from tdigest_spark.kernel import merge_sketches

_MAGIC = b"TOPK"


class SpaceSaving:
    __slots__ = ("m", "counts", "errors", "n")

    def __init__(self, m: int = 256):
        if m < 1:
            raise ValueError("SpaceSaving needs m >= 1 counters")
        self.m = int(m)
        self.counts: dict[str, int] = {}
        self.errors: dict[str, int] = {}
        self.n = 0

    def add_items(self, items, counts=None) -> None:
        """Fold (item, count) pairs — items pre-aggregated per batch via
        C-level value_counts, so this loop runs per DISTINCT item."""
        if counts is None:
            counts = [1] * len(items)
        for item, c in zip(items, counts):
            c = int(c)
            self.n += c
            cur = self.counts.get(item)
            if cur is not None:
                self.counts[item] = cur + c
            elif len(self.counts) < self.m:
                self.counts[item] = c
                self.errors[item] = 0
            else:
                # evict the minimum counter; inherit its count as error
                evict = min(self.counts, key=self.counts.__getitem__)
                base = self.counts.pop(evict)
                self.errors.pop(evict, None)
                self.counts[item] = base + c
                self.errors[item] = base

    def empty(self) -> "SpaceSaving":
        return SpaceSaving(self.m)

    def merge(self, other: "SpaceSaving") -> None:
        if other.m != self.m:
            raise ValueError("cannot merge SpaceSaving sketches with different m")
        self_floor = self._floor()
        other_floor = other._floor()
        merged: dict[str, int] = {}
        errors: dict[str, int] = {}
        keys = set(self.counts) | set(other.counts)
        for k in keys:
            a = self.counts.get(k)
            b = other.counts.get(k)
            # an item absent on one side may have occurred up to that
            # side's eviction floor times — count it at the floor with
            # the whole floor as error (keeps the one-sided guarantee)
            av, ea = (a, self.errors.get(k, 0)) if a is not None else (self_floor, self_floor)
            bv, eb = (b, other.errors.get(k, 0)) if b is not None else (other_floor, other_floor)
            merged[k] = av + bv
            errors[k] = ea + eb
        top = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))[: self.m]
        self.counts = dict(top)
        self.errors = {k: errors[k] for k, _ in top}
        self.n += other.n

    def _floor(self) -> int:
        """Upper bound on the count of any unseen item: 0 while the
        counter table is not full, else the minimum counter."""
        if len(self.counts) < self.m:
            return 0
        return min(self.counts.values())

    def top(self, k: int) -> list[tuple[str, int, int]]:
        """[(item, count_est, error)] sorted by (count desc, item asc)."""
        items = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(it, c, self.errors.get(it, 0)) for it, c in items]

    # ------------------------------------------------------------------
    def to_bytes(self) -> bytes:
        parts = [_MAGIC, struct.pack(">iqi", self.m, self.n, len(self.counts))]
        for item, c in self.counts.items():
            data = item.encode("utf-8")
            parts.append(struct.pack(">i", len(data)))
            parts.append(data)
            parts.append(struct.pack(">qq", c, self.errors.get(item, 0)))
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, data: bytes) -> "SpaceSaving":
        if data[:4] != _MAGIC:
            raise ValueError("not a SpaceSaving sketch")
        m, n, k = struct.unpack_from(">iqi", data, 4)
        s = cls(m)
        s.n = n
        off = 4 + struct.calcsize(">iqi")
        for _ in range(k):
            (ln,) = struct.unpack_from(">i", data, off)
            off += 4
            item = data[off : off + ln].decode("utf-8")
            off += ln
            c, e = struct.unpack_from(">qq", data, off)
            off += 16
            s.counts[item] = c
            s.errors[item] = e
        return s


merge_all_topk = merge_sketches
