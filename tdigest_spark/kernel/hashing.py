"""Hash utilities for the sketch kernels.

Design rule: row hashing happens JVM-side (``F.xxhash64`` — vectorized,
whole-stage-codegen) and kernels receive int64 hashes reinterpreted as
uint64.  Derived hash functions (per-row families for count-min/Bloom)
are built in NumPy from splitmix64 finalizers, so Python never hashes
raw strings row-by-row.
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)
_MIX1 = _U64(0xBF58476D1CE4E5B9)
_MIX2 = _U64(0x94D049BB133111EB)


def as_u64(h) -> np.ndarray:
    """Reinterpret int64 hashes (e.g. Spark xxhash64 output) as uint64."""
    return np.asarray(h, dtype=np.int64).view(np.uint64)


def int64_hashes(col) -> np.ndarray:
    """A pandas column of raw int64 hashes as NumPy.  A NULL in the
    batch coerces the series to float64, rounding 63-bit hashes before
    this code runs, so anything but int64 is rejected rather than
    folded as corrupted bit patterns."""
    if len(col) and col.dtype != np.int64:
        raise ValueError(
            "hash column must be a non-nullable int64 hash: pass xxhash64(col) "
            "(never NULL), mask NULL inputs to a sentinel, or filter them upstream"
        )
    return col.to_numpy(dtype=np.int64)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public-domain constants), vectorized."""
    z = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        z += _GOLDEN
        z ^= z >> _U64(30)
        z *= _MIX1
        z ^= z >> _U64(27)
        z *= _MIX2
        z ^= z >> _U64(31)
    return z


def double_hash(h: np.ndarray, i: int, modulus: int) -> np.ndarray:
    """Kirsch–Mitzenmacher double hashing: g_i(x) = h1 + i*h2 (mod m)."""
    h = as_u64(h)
    h2 = splitmix64(h) | _U64(1)
    with np.errstate(over="ignore"):
        g = h + _U64(i) * h2
    return (g % _U64(modulus)).astype(np.int64)


def hash64_py(value) -> int:
    """Deterministic scalar hash for driver-side probe values when a
    SparkSession is unavailable (kernel tests). NOT xxhash64-compatible;
    kernels must be fed consistently from ONE source."""
    import struct as _struct

    if isinstance(value, str):
        data = value.encode("utf-8")
    elif isinstance(value, bytes):
        data = value
    elif isinstance(value, (int, np.integer)):
        data = int(value).to_bytes(8, "little", signed=True)
    elif isinstance(value, float):
        data = _struct.pack("<d", value)
    else:
        raise TypeError(f"unhashable probe type {type(value)}")
    # FNV-1a 64 then splitmix finalize
    h = np.uint64(0xCBF29CE484222325)
    with np.errstate(over="ignore"):
        for b in data:
            h ^= np.uint64(b)
            h *= np.uint64(0x100000001B3)
    return int(splitmix64(np.array([h], dtype=np.uint64))[0])


def hash_series_py(values) -> np.ndarray:
    """Vectorized-ish deterministic hash of a pandas/NumPy sequence for
    kernel-only tests (ints/floats vectorized; strings via Python loop)."""
    arr = np.asarray(values)
    if arr.dtype.kind in "iu":
        return splitmix64(arr.astype(np.int64).view(np.uint64))
    if arr.dtype.kind == "f":
        return splitmix64(arr.astype(np.float64).view(np.uint64))
    return np.array([hash64_py(v) for v in arr], dtype=np.int64).view(np.uint64)


def kgram_poly_hashes(data: np.ndarray, k: int, base: int = 1000003) -> np.ndarray:
    """Rolling polynomial hash of every k-gram of a uint8 buffer:
    ``h[i] = Σ data[i+j]·base^(k-1-j) mod 2^64`` — the shared numeric
    core of MinHash shingling (dedup) and winnowing fingerprints
    (text).  Empty uint64 array when the buffer is shorter than k."""
    n = data.size - k + 1
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    with np.errstate(over="ignore"):
        b = np.uint64(base)
        # Horner accumulation: k passes over a length-n uint64 buffer.
        # The round-3 form materialized an (n, k) uint64 window matrix —
        # ~64n bytes of temp for k=8, which at batch scale (concatenated
        # multi-MB buffers) dominated runtime with allocation + memory
        # traffic.  Same polynomial, same wrap mod 2^64, identical output.
        acc = data[:n].astype(np.uint64)
        for j in range(1, k):
            np.multiply(acc, b, out=acc)
            np.add(acc, data[j : j + n], out=acc, casting="unsafe")
        return acc
