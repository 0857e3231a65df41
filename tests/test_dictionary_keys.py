"""String and binary keys on the native scan, which reads them as
parquet dictionaries and groups rows on the dictionary codes.

The file under test has three row groups with different dictionaries:
a value shared between two of them sits at a different code in each,
and one row group's chunk has too many long values for its dictionary
page, so the writer falls back to PLAIN pages partway through it.
NULL keys appear in every row group.  Native sketches (the one-task
route and the merged route, forced as in test_single_task.py) must be
byte-equal to the Catalyst scan's.  The file is one Spark partition and
every group holds fewer values than a t-digest buffers before it
compacts, so the Catalyst fold sees the same values in the same order.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructField

from tdigest_spark.spark import arrow_agg
from tdigest_spark.spark.tdigest_agg import tdigest, tdigest_count_agg

_ROWS = 1000
_DICT_PAGE_LIMIT = 4096


def _key_values(rng):
    """Three row groups of string keys: few values, many long values
    (more bytes than one dictionary page), and few values again, one of
    them shared with the first row group."""
    first = rng.choice(["a0", "a1", "a2", None], _ROWS, p=[0.3, 0.3, 0.3, 0.1])
    long = [f"long-{i % 700:04d}-" + "x" * 60 for i in range(_ROWS)]
    long[700::50] = [None] * 6  # their values appear 700 rows earlier
    third = rng.choice(["b0", "a1", "b1", "b2", None], _ROWS)
    return [*first, *long, *third]


@pytest.fixture(scope="module")
def keyed(spark, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(17)
    s = _key_values(rng)
    path = str(tmp_path_factory.mktemp("dict_keys") / "t.parquet")
    pq.write_table(
        pa.table(
            {
                "s": pa.array(s, pa.string()),
                "b": pa.array([None if v is None else v[::-1].encode() for v in s], pa.binary()),
                "v": rng.lognormal(2.0, 1.0, len(s)),
            }
        ),
        path,
        row_group_size=_ROWS,
        compression="none",
        # the page limit is checked after each write batch
        dictionary_pagesize_limit=_DICT_PAGE_LIMIT,
        write_batch_size=64,
    )
    # the middle chunk's dictionary page stopped at the limit, far
    # short of its values (~50 kB): the rest of the chunk is PLAIN
    chunk = pq.ParquetFile(path).metadata.row_group(1).column(0)
    assert chunk.data_page_offset - chunk.dictionary_page_offset < 2 * _DICT_PAGE_LIMIT
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    return df


def _rows(df):
    # Row equality covers binary columns byte for byte (bytearray ==)
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _native_and_catalyst(monkeypatch, build):
    """Rows of the one-task route, the merged route and the Catalyst
    scan, each route forced (the split is one, so either may run)."""
    routes = []
    out = []
    for single in (True, False):
        monkeypatch.setattr(
            arrow_agg, "_single_task", lambda *a, s=single: routes.append(s) or s
        )
        out.append(_rows(build()))
    monkeypatch.setattr(arrow_agg, "NATIVE_SCAN", False)
    out.append(_rows(build()))
    monkeypatch.undo()
    assert routes == [True, False]
    return out


def _dictionary_sources(df, keys, inputs):
    """The source columns the native scan reads as dictionaries."""
    splits, col_map, _, _, pred_data = arrow_agg._native_parquet_splits(df, [*keys, *inputs])
    assert len(splits) == 1
    fields = [StructField(k, df.schema[k].dataType) for k in keys]
    ops, _ = arrow_agg.native_scan_ops(col_map, [*keys, *inputs], pred_data)
    return arrow_agg._dictionary_keys(ops, fields, pred_data)


@pytest.mark.parametrize(
    "keys,project,dictionary",
    [
        (["s"], None, ["s"]),
        (["b"], None, ["b"]),
        (["s", "b"], None, ["s", "b"]),
        # a filter on the key reads its values: no dictionary
        (["s"], lambda df: df.filter(F.col("s") != "a1"), []),
        (["s"], lambda df: df.filter(F.col("s").isNull() | (F.col("s") > "b0")), []),
        # length() has no dictionary kernel
        (["n"], lambda df: df.select(F.length("s").alias("n"), "v"), []),
        (["s", "n"], lambda df: df.select("s", F.length("s").alias("n"), "v"), []),
        # a filter on another column leaves the key a dictionary
        (["s"], lambda df: df.filter(F.col("v") > 3.0), ["s"]),
    ],
    ids=["string", "binary", "string_binary", "filter_ne", "filter_null_or_gt",
         "length", "key_and_length", "filter_value"],
)
def test_native_matches_catalyst(spark, keyed, monkeypatch, keys, project, dictionary):
    df = keyed if project is None else project(keyed)
    assert _dictionary_sources(df, keys, ["v"]) == dictionary
    for build in (
        lambda: tdigest(df, "v", 100, keys=keys),
        lambda: tdigest_count_agg(df, "v", 100, keys=keys),
    ):
        one, merged, catalyst = _native_and_catalyst(monkeypatch, build)
        assert one == merged == catalyst
        if project is None:
            assert any(r[0] is None for r in one)  # NULL keys survive


def test_string_key_counts_match_group_by(spark, keyed):
    """The value shared by two row groups' dictionaries is one group,
    and the PLAIN-fallback row group's values are one group each."""
    got = {r["s"]: r["count"] for r in tdigest_count_agg(keyed, "v", 100, keys=["s"]).collect()}
    want = {r["s"]: r["count"] for r in keyed.groupBy("s").count().collect()}
    assert got == want
    assert len(got) == 3 + 700 + 3 + 1  # a*, long-*, b*, NULL
