"""The one-task route: when the native scan plans at most one split,
``sketch_groupby_arrow`` scans, folds and finalizes in a single task.
Every sketch family must give the same rows, with byte-equal sketch
columns, as the merged route (partial → exchange → merge+finalize)
over the same splits, grouped and ungrouped; and the plan must run as
one Spark job with no Exchange."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.spark import arrow_agg
from tdigest_spark.spark.sketches import (
    bloom_filter,
    countmin_sketch,
    hll_count_distinct,
    hll_sketch,
    hll_union_agg,
    kll_quantile,
    kll_sketch,
)
from tdigest_spark.spark.tdigest_agg import (
    tdigest,
    tdigest_avg,
    tdigest_count_agg,
    tdigest_percentile,
    tdigest_percentile_digests,
    tdigest_percentile_of,
    tdigest_sum,
    tdigest_union_agg,
)
from tdigest_spark.spark.topk_agg import reservoir_sample_hashes, topk, topk_sketch


def _write_one_row_group(path, n=3000, seed=5):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.RandomState(seed)
    k = rng.choice(["a", "b", "c"], size=n).astype(object)
    k[rng.rand(n) < 0.05] = None
    v = rng.lognormal(3.0, 1.0, size=n).astype(object)
    v[rng.rand(n) < 0.05] = None
    pq.write_table(
        pa.table(
            {
                "k": pa.array(list(k), type=pa.string()),
                "g": pa.array(rng.randint(0, 4, size=n), type=pa.int32()),
                "v": pa.array(list(v), type=pa.float64()),
                "c": pa.array(rng.randint(1, 6, size=n), type=pa.int64()),
                "item": pa.array(
                    [f"i{x}" for x in rng.zipf(1.5, size=n) % 300], type=pa.string()
                ),
            }
        ),
        path,
        row_group_size=n,
    )


@pytest.fixture(scope="module")
def one_file(spark, tmp_path_factory):
    """One file with one row group: the native scan plans one split."""
    path = str(tmp_path_factory.mktemp("one_task") / "t.parquet")
    _write_one_row_group(path)
    df = spark.read.parquet(path)
    splits = arrow_agg._native_parquet_splits(df, ["k", "g", "v", "c", "item"])[0]
    assert len(splits) == 1
    return df


@pytest.fixture(scope="module")
def two_files(spark, tmp_path_factory):
    """Two one-row-group files: the native scan plans two splits."""
    root = tmp_path_factory.mktemp("two_files")
    _write_one_row_group(str(root / "a.parquet"), seed=1)
    _write_one_row_group(str(root / "b.parquet"), seed=2)
    df = spark.read.parquet(str(root))
    assert len(arrow_agg._native_parquet_splits(df, ["k", "v"])[0]) == 2
    return df


@pytest.fixture(scope="module")
def stored(spark, one_file, tmp_path_factory):
    """Stored per-(k, g) t-digests and HLL sketches, read back as one
    single-row-group file each (re-aggregation inputs on the native
    scan)."""
    out = {}
    for name, built in [
        ("digests", tdigest(one_file, "v", 100, keys=["k", "g"])),
        ("hll", hll_sketch(one_file, "item", keys=["k", "g"], p=10)),
    ]:
        d = str(tmp_path_factory.mktemp(f"stored_{name}"))
        built.coalesce(1).write.mode("overwrite").parquet(d)
        out[name] = spark.read.parquet(d)
    return out


def _families(df, stored, keys):
    """(name, DataFrame builder, takes the native scan) per family."""
    kw = {"keys": keys}
    return [
        ("tdigest", lambda: tdigest(df, "v", 100, **kw), True),
        ("tdigest_counts", lambda: tdigest(df, "v", 100, count_col="c", **kw), True),
        ("percentile", lambda: tdigest_percentile(df, "v", 100, 0.9, **kw), True),
        ("percentile_array",
         lambda: tdigest_percentile(df, "v", 100, [0.1, 0.5, 0.99], **kw), True),
        ("percentile_of", lambda: tdigest_percentile_of(df, "v", 100, 20.0, **kw), True),
        ("trimmed_avg", lambda: tdigest_avg(df, "v", 100, 0.1, 0.9, **kw), True),
        ("trimmed_sum", lambda: tdigest_sum(df, "v", 100, 0.2, 0.8, **kw), True),
        ("count", lambda: tdigest_count_agg(df, "v", 100, **kw), True),
        ("union_digests",
         lambda: tdigest_union_agg(stored["digests"], "tdigest", **kw), True),
        ("percentile_digests",
         lambda: tdigest_percentile_digests(stored["digests"], "tdigest", 0.5, **kw),
         True),
        ("kll", lambda: kll_sketch(df, "v", k=64, **kw), True),
        ("kll_quantile", lambda: kll_quantile(df, "v", 0.5, k=64, **kw), True),
        ("topk_sketch", lambda: topk_sketch(df, "item", m=32, **kw), True),
        ("topk", lambda: topk(df, "item", 5, m=32, **kw), True),
        ("hll_union", lambda: hll_union_agg(stored["hll"], "hll", **kw), True),
        # hash-input families project xxhash64, which the native scan
        # does not translate: they plan through Catalyst either way
        ("hll", lambda: hll_sketch(df, "item", p=10, **kw), False),
        ("hll_count", lambda: hll_count_distinct(df, "item", p=10, **kw), False),
        ("countmin", lambda: countmin_sketch(df, "item", width=64, depth=3, **kw), False),
        ("bloom", lambda: bloom_filter(df, "item", m=1 << 12, k=3, **kw), False),
        ("reservoir", lambda: reservoir_sample_hashes(df, "item", 16, **kw), False),
    ]


def _rows(df):
    # Row equality covers binary columns byte for byte (bytearray ==)
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _routes(monkeypatch, build, rows=_rows):
    """(one-task rows, merged rows, what the route test answered)."""
    seen = []
    real = arrow_agg._single_task

    def spy(*args):
        seen.append(real(*args))
        return seen[-1]

    monkeypatch.setattr(arrow_agg, "_single_task", spy)
    one = rows(build())
    monkeypatch.setattr(arrow_agg, "_single_task", lambda *args: False)
    merged = rows(build())
    monkeypatch.setattr(arrow_agg, "_single_task", real)
    return one, merged, seen


@pytest.mark.parametrize("keys", [["k"], ["k", "g"], []], ids=["k", "k_g", "ungrouped"])
def test_one_task_route_equals_merged_route(spark, one_file, stored, monkeypatch, keys):
    for name, build, native in _families(one_file, stored, keys):
        one, merged, seen = _routes(monkeypatch, build)
        if native:
            assert seen == [True], (name, seen)
        assert one == merged, name
        assert one, name


@pytest.mark.parametrize("keys", [["k"], []], ids=["grouped", "ungrouped"])
def test_filter_keeping_no_rows(spark, one_file, two_files, stored, monkeypatch, keys):
    """A residual filter that no row passes (row-group stats cannot
    prune IS NULL): still one split, and SQL's empty-input results —
    one NULL row ungrouped, zero rows grouped.  Over two files the
    merged route gives the same: ungrouped, the task holding split 0
    emits the empty group."""
    empty = one_file.filter(F.col("c").isNull())
    assert len(arrow_agg._native_parquet_splits(empty, ["k", "v"])[0]) == 1
    answers = {}
    for name, build, native in _families(empty, stored, keys):
        if name in ("union_digests", "percentile_digests", "hll_union"):
            continue  # stored inputs are not filtered
        one, merged, _ = _routes(monkeypatch, build)
        assert one == merged, name
        answers[name] = one
        if name != "topk":  # explodes its one NULL sketch into no rows
            assert len(one) == (0 if keys else 1), (name, one)
    rows = tdigest_percentile(empty, "v", 100, 0.5, keys=keys).collect()
    if keys:
        assert rows == []
    else:
        assert len(rows) == 1 and rows[0]["percentile"] is None
        empty2 = two_files.filter(F.col("c").isNull())
        assert len(arrow_agg._native_parquet_splits(empty2, ["k", "v"])[0]) == 2
        for name, build, _ in _families(empty2, stored, keys):
            if name in answers:
                assert _rows(build()) == answers[name], name


@pytest.mark.parametrize("keys", [["k"], []], ids=["grouped", "ungrouped"])
def test_zero_splits_match_catalyst(spark, tmp_path_factory, monkeypatch, keys):
    """A partitioned table pruned to nothing — by its partition values
    or by row-group stats — plans 0 splits: the one-task route answers
    like the Catalyst scan (one NULL row ungrouped, zero rows grouped)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path_factory.mktemp("pruned")
    for p in (1, 2):
        d = root / f"p={p}"
        d.mkdir()
        pq.write_table(
            pa.table({"k": ["a", "b"] * 50, "v": np.arange(100.0) + p}),
            str(d / "f.parquet"),
        )
    table = spark.read.parquet(str(root))
    for pruned in (table.filter(F.col("p") == 99), table.filter(F.col("v") < -1.0)):
        assert arrow_agg._native_parquet_splits(pruned, ["k", "v"])[0] == []
        for build in (
            lambda: tdigest_percentile(pruned, "v", 100, 0.5, keys=keys),
            lambda: tdigest(pruned, "v", 100, keys=keys),
            lambda: kll_quantile(pruned, "v", 0.5, keys=keys),
            lambda: topk_sketch(pruned, "k", keys=keys),
        ):
            one = _rows(build())
            monkeypatch.setattr(arrow_agg, "NATIVE_SCAN", False)
            catalyst = _rows(build())
            monkeypatch.setattr(arrow_agg, "NATIVE_SCAN", True)
            assert one == catalyst
            assert len(one) == (0 if keys else 1)
            if not keys:
                assert set(one[0]) == {None}


_GROUPS = itertools.count()


def _jobs_and_plan(spark, df):
    sc = spark.sparkContext
    group = f"one_task_{next(_GROUPS)}"
    plan = df._jdf.queryExecution().executedPlan().toString()
    sc.setJobGroup(group, "one-task route job count")
    try:
        rows = df.collect()
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(jobs), plan


@pytest.mark.parametrize("keys", [["k"], []], ids=["grouped", "ungrouped"])
def test_single_split_runs_one_job_without_exchange(spark, one_file, keys):
    rows, jobs, plan = _jobs_and_plan(
        spark, tdigest_percentile(one_file, "v", 100, 0.5, keys=keys)
    )
    assert rows
    assert jobs == 1, plan
    assert "Exchange" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan


def test_two_files_keep_their_exchange(spark, two_files):
    for keys in (["k"], []):
        _, _, plan = _jobs_and_plan(
            spark, tdigest_percentile(two_files, "v", 100, 0.5, keys=keys)
        )
        assert "Exchange" in plan, plan
        # the ungrouped native plan needs no seed row: one scan leaf
        assert plan.count("Range") == 1, plan


def test_multi_split_queries_leave_no_files(spark, two_files):
    """A multi-split native aggregate ships its split list in the task
    closure: repeated queries add no broadcast file to the session's
    temp directory."""
    import gc
    import os

    temp = spark.sparkContext._temp_dir

    def files():
        gc.collect()
        return sum(len(names) for _, _, names in os.walk(temp))

    query = lambda: tdigest_percentile(two_files, "v", 100, 0.5, keys=["k"])  # noqa: E731
    query().collect()
    before = files()
    for _ in range(10):
        query().collect()
    assert files() == before


def test_salt_is_a_no_op_on_one_split(spark, one_file):
    salted = _rows(tdigest(one_file, "v", 100, keys=["k"], salt=4))
    assert salted == _rows(tdigest(one_file, "v", 100, keys=["k"]))


def _stage_tasks(spark, df):
    """``df``'s rows and the task count of each stage its jobs ran, in
    stage order."""
    sc = spark.sparkContext
    group = f"one_task_{next(_GROUPS)}"
    sc.setJobGroup(group, "stage task counts")
    try:
        rows = df.collect()
        tracker = sc.statusTracker()
        stages = sorted(
            s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, [tracker.getStageInfo(s).numTasks for s in stages]


def test_catalyst_seed_is_one_task(spark, monkeypatch):
    """Ungrouped on the Catalyst route, the seed row that answers an
    empty input adds one task to the partial stage, and still gives one
    NULL row over an empty input, also one with no partitions."""
    monkeypatch.setattr(arrow_agg, "NATIVE_SCAN", False)
    df = spark.range(0, 300, 1, 3).select(F.col("id").cast("double").alias("v"))
    none = spark.createDataFrame(spark.sparkContext.emptyRDD(), df.schema)
    for inp in (df, df.filter(F.col("v") < 0), none):
        rows, tasks = _stage_tasks(spark, tdigest_percentile(inp, "v", 100, 0.5))
        assert len(rows) == 1 and (rows[0]["percentile"] is None) == (inp is not df)
        assert tasks[0] == inp.rdd.getNumPartitions() + 1, tasks


def test_one_task_result_keeps_single_row_marker(spark, one_file):
    """Chained re-aggregation still skips its partial phase: the
    one-task result carries the one-row-per-group marker, and a
    same-key re-aggregation finalizes in place with no Exchange."""
    dig = tdigest(one_file, "v", 100, keys=["k"])
    assert dig._sketch_single_row_groups == ("k",)
    assert tdigest(one_file, "v", 100)._sketch_single_row_groups == ()
    again = tdigest_percentile_digests(dig, "tdigest", 0.5, keys=["k"])
    _, jobs, plan = _jobs_and_plan(spark, again)
    assert "Exchange" not in plan and jobs == 1, plan


def test_float_keys_group_as_spark_across_batches():
    """Every batch decodes its float keys afresh: all NaNs must land in
    one group (NaN != NaN, and its hash is per object) and -0.0 in
    0.0's group, as Spark's groupBy has it, also when the states are
    keyed across batches."""
    import math

    import pyarrow as pa

    batches = [
        pa.record_batch({"x": pa.array(x), "v": pa.array([1.0] * len(x))})
        for x in ([-0.0, float("nan"), 1.0], [float("nan"), 0.0], [float("nan")])
    ]
    states = arrow_agg.fold_group_batches(
        batches, ["x"], ["v"], arrow_agg.sketch_of(list, lambda st, v: st.append(len(v)), None)
    )
    assert len(states) == 3
    by_key = {repr(k[0]): sum(st) for k, st in states.items()}
    assert by_key == {"nan": 3, "0.0": 2, "1.0": 1}
    zero = next(k[0] for k in states if k[0] == 0.0)
    assert math.copysign(1.0, zero) == 1.0


def _float_keyed(rows):
    # repr tells NaN (never == itself) and -0.0 (== 0.0) apart
    return sorted(tuple(repr(c) if isinstance(c, float) else c for c in r) for r in rows)


def test_nan_keys_in_one_split_of_several_batches(spark, tmp_path, monkeypatch):
    """One row group read as several batches (wide rows → 65536-row
    batches), with NaN keys in every batch and a -0.0 key first: the
    one-task route finalizes its states without a merge stage, so the
    fold itself must keep one state per Spark group."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 70_000
    x = np.where(np.arange(n) % 7 == 0, np.nan, (np.arange(n) % 3).astype(float))
    x[1] = -0.0
    path = str(tmp_path / "wide.parquet")
    pq.write_table(
        pa.table(
            {
                "x": x,
                "v": np.arange(n, dtype=float),
                # an unread column that makes the row group wide: ~520
                # bytes a row sizes the reader's batches at 65536 rows
                "pad": pa.array([b"p" * 520] * n, type=pa.binary()),
            }
        ),
        path,
        row_group_size=n,
        use_dictionary=["x", "v"],
        compression="zstd",
    )
    df = spark.read.parquet(path)
    splits, col_map, *_ = arrow_agg._native_parquet_splits(df, ["x", "v"])
    assert len(splits) == 1
    ops, sources = arrow_agg.native_scan_ops(col_map, ["x", "v"])
    batches = list(arrow_agg.iter_bundle_batches(splits[0], ["x", "v"], ops, sources))
    assert len(batches) >= 2
    assert all(np.isnan(b.column(0).to_numpy()).any() for b in batches)

    build = lambda: tdigest_count_agg(df, "v", 100, keys=["x"])  # noqa: E731
    expected = _float_keyed(df.groupBy("x").count().collect())
    assert expected == [("0.0", 20001), ("1.0", 19999), ("2.0", 20000), ("nan", 10000)]
    one, merged, seen = _routes(
        monkeypatch, build, rows=lambda df: _float_keyed(df.collect())
    )
    assert seen == [True]
    assert one == merged == expected


def test_many_groups_keep_the_merge_stage(spark, tmp_path, monkeypatch):
    """One split whose key columns may hold more groups than one task
    should finalize keeps its Exchange: the merge stage spreads that
    finalize.  The route test bounds the groups by each key's distinct
    values in the split (string keys by their parquet dictionaries)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 12_000
    rng = np.random.RandomState(3)
    path = str(tmp_path / "many.parquet")
    pq.write_table(
        pa.table(
            {
                "id": pa.array(np.arange(n) % 5000, type=pa.int64()),
                "s": pa.array([f"s{i % 4500}" for i in range(n)]),
                "few": pa.array([None if i % 5 == 0 else f"f{i % 3}" for i in range(n)]),
                "v": rng.rand(n),
            }
        ),
        path,
        row_group_size=n,
    )
    df = spark.read.parquet(path)
    splits, col_map, *_ = arrow_agg._native_parquet_splits(df, ["id", "s", "few", "v"])
    bound = lambda keys: arrow_agg._group_bound(splits[0], keys, col_map)  # noqa: E731
    assert bound(["few"]) == 4  # three strings and NULL
    assert bound(["id"]) == 5000
    assert bound(["s"]) == 4500
    assert bound(["few", "few"]) == 16
    for keys, single in ((["few"], True), (["id"], False), (["s"], False)):
        assert arrow_agg._single_task(splits, keys, col_map) is single
        _, _, plan = _jobs_and_plan(
            spark, tdigest_percentile(df, "v", 100, 0.5, keys=keys)
        )
        assert ("Exchange" in plan) is not single, plan
    one, merged, seen = _routes(
        monkeypatch, lambda: tdigest_percentile(df, "v", 100, 0.5, keys=["id"])
    )
    assert seen == [False] and one == merged and len(one) == 5000


def test_group_bound_counts_values_shared_by_row_groups(spark, tmp_path):
    """Each row group's parquet dictionary holds the same 500 values:
    the bound is 500 (NULL counted once), not one count per row group,
    so the file still plans one task."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 10 * 1000
    path = str(tmp_path / "shared.parquet")
    pq.write_table(
        pa.table(
            {
                "s": pa.array([None if i % 97 == 0 else f"s{i % 500}" for i in range(n)]),
                "v": np.arange(n, dtype=float),
            }
        ),
        path,
        row_group_size=1000,
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == 10
    df = spark.read.parquet(path)
    splits, col_map, *_ = arrow_agg._native_parquet_splits(df, ["s", "v"])
    assert len(splits) == 1
    assert arrow_agg._group_bound(splits[0], ["s"], col_map) == 501
    assert arrow_agg._single_task(splits, ["s"], col_map)
    rows, jobs, plan = _jobs_and_plan(spark, tdigest_count_agg(df, "v", 100, keys=["s"]))
    assert "Exchange" not in plan and jobs == 1, plan
    assert len(rows) == 501


def test_group_bound_of_files_sharing_values_is_their_union(spark, tmp_path):
    """Two 6,000-row files holding the same 3,000 string and int values,
    read as one split bundle, bound at 3,000 groups, not 6,000, so the
    bundle keeps the one-task route; a third file with other values
    adds its own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 6000
    for name, shift in (("a", 0), ("b", 0), ("c", 3000)):
        ids = np.arange(n) % 3000 + shift
        pq.write_table(
            pa.table({"s": pa.array([f"s{i}" for i in ids]), "id": ids, "v": np.ones(n)}),
            str(tmp_path / f"{name}.parquet"),
        )
    for files, groups in ((["a", "b"], 3000), (["a", "b", "c"], 6000)):
        df = spark.read.parquet(*[str(tmp_path / f"{f}.parquet") for f in files])
        splits, col_map, *_ = arrow_agg._native_parquet_splits(df, ["s", "id", "v"])
        bundle = [entry for split in splits for entry in split]
        assert len(bundle) == len(files)
        for key in ("s", "id"):
            assert arrow_agg._group_bound(bundle, [key], col_map) == groups
            assert arrow_agg._single_task([bundle], [key], col_map) is (groups <= 4096)
