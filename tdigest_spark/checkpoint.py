"""Checkpointed, resumable sketch builds with per-partition lineage.

The 100 TB failure model: a multi-hour scan must not restart from zero.
Stage 1 (the expensive scan → partial digests) writes its output as a
Parquet table whose rows carry lineage — split id, rows consumed,
centroid count, serialized size — plus a ``_SUCCESS`` marker from
Spark's committer.  Stage 2 (merge + finalize) reads only that table.
Re-running the job with the same checkpoint dir skips straight to
stage 2 (resume); deleting the dir rebuilds.  Because digests merge
associatively, the final result is independent of how the build was
split or resumed (SURVEY.md §7, BASELINE north_rule: "resumable from
checkpoint with per-partition lineage + metrics").
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from tdigest_spark.kernel.tdigest import decode_many
from tdigest_spark.spark import arrow_agg
from tdigest_spark.spark.arrow_agg import (
    SKETCH_COL,
    _SKETCH_FIELD,
    _bundle_folder,
    _native_parquet_splits,
    _partials_batch,
    fold_group_batches,
    record_batch_exact,
)
from tdigest_spark.spark.tdigest_agg import _values_sketch

LINEAGE_COLS = ["split_id", "n_rows", "n_centroids", "n_bytes"]


def _success_marker(path: str) -> str:
    return os.path.join(path, "_SUCCESS")


def is_complete(path: str, spark: SparkSession | None = None) -> bool:
    """True when the checkpoint's _SUCCESS marker exists.  Resolved
    through the Hadoop FileSystem API so resume detection works on
    HDFS/S3/GCS paths, not just the local filesystem; falls back to
    os.path only when no SparkSession is available."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return os.path.exists(_success_marker(path))
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(_success_marker(path))
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def build_partial_digests(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    compression: int,
    checkpoint_dir: str,
    overwrite: bool = False,
) -> DataFrame:
    """Stage 1: one digest per (input split × group), written to
    ``checkpoint_dir`` with lineage columns.  Returns the checkpoint
    table (from disk).  No-op if the checkpoint is already complete."""
    spark = df.sparkSession
    if is_complete(checkpoint_dir, spark) and not overwrite:
        return read_partials(spark, checkpoint_dir)

    keys = list(keys)
    by_name = {f.name: f for f in df.schema.fields}
    key_fields = [by_name[k] for k in keys]
    schema = StructType(
        key_fields
        + [
            StructField("digest", BinaryType(), True),
            StructField("split_id", IntegerType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_centroids", IntegerType(), False),
            StructField("n_bytes", LongType(), False),
        ]
    )

    sketch = _values_sketch(value_col, compression)
    projected = df.select(*keys, value_col)

    def emit(split_id, states):
        """The split's partial digests, with lineage read off each blob."""
        from pyspark.sql.pandas.types import to_arrow_schema

        part = _partials_batch(
            states, keys, sketch, to_arrow_schema(StructType(key_fields + [_SKETCH_FIELD]))
        )
        blobs = part.column(SKETCH_COL)
        kept, _, _, offsets, count, _ = decode_many(blobs)
        n_rows = np.zeros(len(blobs), np.int64)
        n_rows[kept] = count
        n_centroids = np.zeros(len(blobs), np.int32)
        n_centroids[kept] = np.diff(offsets)
        out = {k: part.column(k) for k in keys}
        out.update(
            digest=blobs,
            split_id=np.full(len(blobs), split_id, np.int32),
            n_rows=n_rows,
            n_centroids=n_centroids,
            n_bytes=pc.binary_length(blobs).fill_null(0),
        )
        return record_batch_exact(out, to_arrow_schema(schema))

    def build(batches):
        from pyspark import TaskContext

        states = fold_group_batches(batches, keys, [value_col], sketch)
        yield emit(TaskContext.get().partitionId(), states)

    needed = [*keys, value_col]
    native = _native_parquet_splits(projected, needed) if arrow_agg.NATIVE_SCAN else None
    if native is not None:
        splits, col_map, predicate, pred_part, pred_data = native
        fold_bundles = _bundle_folder(
            col_map, key_fields, [value_col], sketch,
            predicate=predicate, pred_part=pred_part, pred_data=pred_data,
        )

        def scan_build(ids):
            # one range id per task: range id = bundle index = split_id
            for b in ids:
                for split_id in b.column(0).to_pylist():
                    yield emit(split_id, fold_bundles([splits[split_id]]))

        n = len(splits)
        partials_df = (
            spark.range(0, n, 1, n).mapInArrow(scan_build, schema)
            if n
            else spark.createDataFrame([], schema)
        )
    else:
        partials_df = projected.mapInArrow(build, schema)
    partials_df.write.mode("overwrite").parquet(checkpoint_dir)
    return read_partials(spark, checkpoint_dir)


def read_partials(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    return spark.read.parquet(checkpoint_dir)


def lineage_summary(partials: DataFrame) -> DataFrame:
    """Per-split audit: rows consumed, digest sizes — the metrics rows
    the north rule requires alongside the checkpoint."""
    return partials.groupBy("split_id").agg(
        F.count("*").alias("n_groups"),
        F.sum("n_rows").alias("rows_consumed"),
        F.sum("n_centroids").alias("centroids"),
        F.sum("n_bytes").alias("bytes"),
    )


def finalize_percentile(
    partials: DataFrame,
    keys: Sequence[str],
    quantiles,
    salt: int | None = None,
) -> DataFrame:
    """Stage 2: merge checkpointed digests per group and estimate."""
    from tdigest_spark.spark.tdigest_agg import tdigest_percentile_digests

    return tdigest_percentile_digests(
        partials, "digest", quantiles, keys=list(keys), salt=salt
    )


def checkpointed_percentile(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    compression: int,
    quantiles,
    checkpoint_dir: str,
    salt: int | None = None,
) -> DataFrame:
    """End-to-end: resumable stage-1 build + stage-2 merge/estimate."""
    partials = build_partial_digests(df, keys, value_col, compression, checkpoint_dir)
    return finalize_percentile(partials, keys, quantiles, salt=salt)


def verify_lineage(partials: DataFrame, expected_rows: int | None = None) -> dict:
    """Consistency checks over the checkpoint: Σ n_rows == Σ digest
    counts == expected input rows (when known).  Fully distributed —
    per-row digest counts are decoded executor-side and summed with
    F.sum, so a 10^6-split checkpoint never materializes on the
    driver."""
    from tdigest_spark.spark import functions as TF

    rows = partials.agg(
        F.sum("n_rows").alias("rows"),
        F.count("*").alias("groups"),
        F.sum(TF.tdigest_count(F.col("digest"))).alias("dcount"),
    ).collect()[0]
    total_count = int(rows["dcount"] or 0)
    total_rows = int(rows["rows"] or 0)  # SUM over zero rows is NULL
    ok = total_count == total_rows and (
        expected_rows is None or total_rows == expected_rows
    )
    return {
        "rows_consumed": int(total_rows),
        "digest_total_count": int(total_count),
        "n_partial_digests": int(rows["groups"]),
        "consistent": bool(ok),
    }
