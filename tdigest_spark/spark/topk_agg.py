"""Top-k heavy hitters + reservoir sampling as Spark aggregates.

Same Arrow two-phase skeleton.  For SpaceSaving the per-batch work is a
C-level ``pyarrow.compute.value_counts`` (one Python loop iteration per
DISTINCT item per batch, never per row); for the reservoir the per-row
path is pure NumPy over JVM-hashed ids.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    StringType,
    StructField,
)

from tdigest_spark.kernel.reservoir import Reservoir
from tdigest_spark.kernel.topk import SpaceSaving
from tdigest_spark.spark.arrow_agg import _finalizer, sketch_groupby_arrow, sketch_of
from tdigest_spark.spark.sketches import _HASH_COL, _fold_hashes, _with_hash


# ----------------------------------------------------------------------
# SpaceSaving top-k
# ----------------------------------------------------------------------
def _topk(df: DataFrame, item_col: str, keys: Sequence[str], m: int):
    """The item column cast to string, and the SpaceSaving record."""

    def fold(st: SpaceSaving, **cols) -> None:
        col = cols[item_col].drop_null()
        if len(col) == 0:
            return
        vc = pc.value_counts(col)  # C-level distinct+count
        items = vc.field("values").to_pylist()
        counts = vc.field("counts").to_pylist()
        st.add_items([str(i) for i in items], counts)

    df = df.select(*dict.fromkeys([*keys, item_col])).withColumn(
        item_col, F.col(item_col).cast("string")
    )
    return df, sketch_of(lambda: SpaceSaving(m), fold, SpaceSaving.from_bytes)


def topk_sketch(
    df: DataFrame, item_col: str, keys: Sequence[str] = (), m: int = 256,
    result_col: str = "topk", salt: int | None = None,
) -> DataFrame:
    """Serialized SpaceSaving sketch of item frequencies per group.
    Exact while #distinct <= m; otherwise error <= N/m one-sided."""
    df, topk = _topk(df, item_col, keys, m)
    return sketch_groupby_arrow(
        df, keys, [item_col], topk, _finalizer(topk),
        [StructField(result_col, BinaryType(), True)], salt=salt,
    )


def topk(
    df: DataFrame, item_col: str, k: int, keys: Sequence[str] = (),
    m: int = 256, salt: int | None = None,
) -> DataFrame:
    """Top-k items per group: (keys..., rank int, item string,
    count_est long, error long), rank by (count desc, item asc)."""
    df, sketch = _topk(df, item_col, keys, m)

    def top(s):
        rows = s.top(k)
        return (
            [it for it, _, _ in rows],
            [int(c) for _, c, _ in rows],
            [int(e) for _, _, e in rows],
        )

    fields = [
        StructField("items", ArrayType(StringType()), True),
        StructField("counts", ArrayType(LongType()), True),
        StructField("errors", ArrayType(LongType()), True),
    ]
    packed = sketch_groupby_arrow(
        df, keys, [item_col], sketch, _finalizer(sketch, top, (None, None, None)),
        fields, salt=salt,
    )
    exploded = packed.select(
        *keys,
        F.posexplode(F.arrays_zip("items", "counts", "errors")).alias("idx", "z"),
    )
    return exploded.select(
        *keys,
        (F.col("idx") + 1).cast("int").alias("rank"),
        F.col("z.items").alias("item"),
        F.col("z.counts").alias("count_est"),
        F.col("z.errors").alias("error"),
    )


# ----------------------------------------------------------------------
# reservoir sample
# ----------------------------------------------------------------------
def reservoir_sample_hashes(
    df: DataFrame, col: str, k: int, keys: Sequence[str] = (),
    seed: int = 42, result_col: str = "sample_hashes",
) -> DataFrame:
    """Deterministic uniform k-sample per group, returned as the
    xxhash64 ids of the sampled rows (join back on xxhash64(col) to
    materialize payloads).  Bottom-k construction → merge-exact and
    partitioning-independent."""

    def sample(r):
        return [int(h) for h in r.sample_hashes()], int(r.n)

    reservoir = sketch_of(lambda: Reservoir(k, seed), _fold_hashes, Reservoir.from_bytes)
    fields = [
        StructField(result_col, ArrayType(LongType()), True),
        StructField("n_seen", LongType(), True),
    ]
    return sketch_groupby_arrow(
        _with_hash(df, col, keep=keys), keys, [_HASH_COL], reservoir,
        _finalizer(reservoir, sample, (None, 0)), fields,
    )
