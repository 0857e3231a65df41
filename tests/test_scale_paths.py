"""Scale-path regression tests: the behaviors that only matter at
cluster scale — bounded fan-in for global aggregation, no driver-side
materialization in pipeline operators, streaming window eviction, and
lineage invariants under dirty data."""

import datetime
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tdigest_spark.kernel.reservoir import Reservoir
from tdigest_spark.kernel.tdigest import TDigest


# ----------------------------------------------------------------------
# auto tree-merge for global (no-key) aggregation
# ----------------------------------------------------------------------
def test_global_agg_bounded_fanin(spark, monkeypatch):
    """With MERGE_FANOUT shrunk, a many-partition global aggregate must
    insert an intermediate merge round (one extra MapInArrow stage),
    fixed at plan time without running a job, and still produce an
    exact count and an in-bound median."""
    from tdigest_spark.spark import arrow_agg
    from tdigest_spark.spark.tdigest_agg import tdigest, tdigest_percentile

    monkeypatch.setattr(arrow_agg, "MERGE_FANOUT", 4)
    n = 20_000
    # 9 input partitions without an Exchange: under AQE, the partition
    # count of a shuffled input is read by materializing its shuffle
    df = spark.range(0, n, 1, 9).select((F.col("id").cast("double") / n).alias("v"))
    sc = spark.sparkContext
    sc.setJobGroup("fanin_plan", "plan only")
    try:
        est = tdigest_percentile(df, "v", 100, 0.5)
        plan = est._jdf.queryExecution().executedPlan().toString()
        union = tdigest(df, "v", 100)
        assert not sc.statusTracker().getJobIdsForGroup("fanin_plan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # partial + fan-in round (9 partitions / fanout 4 -> width 3) + final
    assert plan.count("MapInArrow") == 3, plan
    row = est.collect()[0]
    assert abs(row["percentile"] - 0.5) < 0.01
    assert TDigest.from_bytes(union.collect()[0]["tdigest"]).count == n

    # control: below the fanout threshold no extra round appears
    monkeypatch.setattr(arrow_agg, "MERGE_FANOUT", 256)
    est2 = tdigest_percentile(df, "v", 100, 0.5)
    plan2 = est2._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("MapInArrow") == 2, plan2
    assert abs(est2.collect()[0]["percentile"] - 0.5) < 0.01


def test_native_scan_partitioned_table(spark, tmp_path_factory):
    """Hive-partitioned parquet: the native scan synthesizes partition
    columns from paths; counts are exact and estimates in-bound, and
    the detector reports the partition op."""
    from tdigest_spark.pages import write_pages
    from tdigest_spark.spark import arrow_agg
    from tdigest_spark.spark.tdigest_agg import tdigest_count_agg, tdigest_percentile

    d = str(tmp_path_factory.mktemp("pp") / "pages")
    write_pages(spark, d, 20_000, partitions=4)  # partitioned by lang
    feats = spark.read.parquet(d).select(
        "lang", F.length("text").cast("double").alias("tl")
    )
    native = arrow_agg._native_parquet_splits(feats, ["lang", "tl"])
    assert native is not None
    assert native[1]["lang"] == ("lang", ("partition", "string"))
    counts = tdigest_count_agg(feats, "tl", 100, keys=["lang"])
    got = {r["lang"]: r["count"] for r in counts.collect()}
    want = {
        r["lang"]: r["n"]
        for r in feats.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    est = tdigest_percentile(feats, "tl", 100, 0.5, keys=["lang"])
    ranks = (
        feats.join(F.broadcast(est), "lang")
        .groupBy("lang")
        .agg(F.avg((F.col("tl") <= F.col("percentile")).cast("double")).alias("r"))
        .collect()
    )
    assert max(abs(x["r"] - 0.5) for x in ranks) < 0.03


def test_native_scan_row_range_subsplits(spark, tmp_path_factory):
    """A single fat-row-group file must sub-split into row ranges when
    the plan would otherwise be under-parallel, and the ranges must
    cover every row exactly once (exact count + sum parity with a
    whole-file read); counts through the aggregate stay exact."""
    import pyarrow.parquet as pq

    from tdigest_spark.spark import arrow_agg
    from tdigest_spark.spark.tdigest_agg import tdigest_count_agg

    d = str(tmp_path_factory.mktemp("fatrg") / "t.parquet")
    n = 200_000
    spark.range(n).select(
        (F.col("id") % 7).cast("int").alias("k"),
        F.col("id").cast("double").alias("v"),
    ).coalesce(1).write.parquet(d)
    df = spark.read.parquet(d).select("k", "v")
    native = arrow_agg._native_parquet_splits(df, ["k", "v"])
    assert native is not None
    splits = native[0]
    entries = [e for b in splits for e in b]
    ranged = [e for e in entries if e[2] is not None]
    assert ranged, "fat row group should sub-split into row ranges"
    # coverage: exact row count and value sum vs a whole-file read
    ops, sources = arrow_agg.native_scan_ops(native[1], ["k", "v"], native[4])
    got_n, got_sum = 0, 0.0
    for bundle in splits:
        for batch in arrow_agg.iter_bundle_batches(
            bundle, ["k", "v"], ops, sources, native[2], native[3], native[4]
        ):
            got_n += batch.num_rows
            got_sum += float(np.sum(batch.column(1).to_numpy()))
    files = [f for f in __import__("os").listdir(d) if f.endswith(".parquet")]
    t = pq.read_table(f"{d}/{files[0]}", columns=["v"])
    assert got_n == t.num_rows
    assert abs(got_sum - float(np.sum(t.column(0).to_numpy()))) < 1e-6
    counts = tdigest_count_agg(df, "v", 100, keys=["k"])
    got = {r["k"]: r["count"] for r in counts.collect()}
    want = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_native_scan_filter_pushdown(spark, tmp_path_factory):
    """Simple predicates are pushed into the pyarrow reader: data-column
    conjuncts become Arrow compute masks, partition-column conjuncts
    prune whole files on the driver; counts stay exact either way and
    unsupported predicate shapes fall back to the Catalyst path."""
    from tdigest_spark.pages import write_pages
    from tdigest_spark.spark import arrow_agg
    from tdigest_spark.spark.tdigest_agg import tdigest_count_agg

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    filtered = li.filter(
        (F.col("l_quantity") > 25) & F.col("l_returnflag").isin("A", "R")
    ).select("l_returnflag", "l_extendedprice")
    native = arrow_agg._native_parquet_splits(
        filtered, ["l_returnflag", "l_extendedprice"]
    )
    assert native is not None and native[2] is not None  # residual predicate
    assert "l_quantity" in native[4]  # filter-only column is read
    got = {
        r["l_returnflag"]: r["count"]
        for r in tdigest_count_agg(
            filtered, "l_extendedprice", 100, keys=["l_returnflag"]
        ).collect()
    }
    want = {
        r["l_returnflag"]: r["n"]
        for r in filtered.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and set(got) == {"A", "R"}

    d = str(tmp_path_factory.mktemp("ppf") / "pages")
    write_pages(spark, d, 10_000, partitions=4)
    feats = (
        spark.read.parquet(d)
        .filter(F.col("lang") == "en")
        .select("lang", F.length("text").cast("double").alias("tl"))
    )
    native2 = arrow_agg._native_parquet_splits(feats, ["lang", "tl"])
    assert native2 is not None
    assert native2[2] is None  # fully partition-pruned, no residual
    # only the lang=en files survive pruning
    assert all(
        "lang=en" in path for bundle in native2[0] for (path, *_rest) in bundle
    )
    got2 = {
        r["lang"]: r["count"]
        for r in tdigest_count_agg(feats, "tl", 100, keys=["lang"]).collect()
    }
    want2 = {
        r["lang"]: r["n"]
        for r in feats.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got2 == want2

    # expression predicate (length(text) inside the filter) → fallback
    mixed = (
        spark.read.parquet(d)
        .filter((F.col("lang") == "en") | (F.length("text") > 500))
        .select("lang", F.length("text").cast("double").alias("tl"))
    )
    assert arrow_agg._native_parquet_splits(mixed, ["lang", "tl"]) is None


def test_native_scan_rowgroup_stats_pruning(spark, tmp_path_factory):
    """Comparison predicates prune whole row groups from the split plan
    via parquet min/max statistics (conservative under truncation)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.spark import arrow_agg
    from tdigest_spark.spark.tdigest_agg import tdigest_count_agg

    f = str(tmp_path_factory.mktemp("rg") / "t.parquet")
    tbl = pa.table(
        {
            "k": ["a"] * 10_000,
            "v": np.arange(10_000, dtype=np.float64),
            "i": np.arange(10_000, dtype=np.int64),
        }
    )
    pq.write_table(tbl, f, row_group_size=1_000)  # 10 sorted row groups

    def kept_rgs(df):
        native = arrow_agg._native_parquet_splits(df, ["k", "v"])
        assert native is not None
        return sum(
            len(rgs)
            for bundle in native[0]
            for (_, rgs, *_rest) in bundle
            if rgs is not None
        )

    # float lt: NaN never matches on either engine → pruning is safe
    df = spark.read.parquet(f).filter(F.col("v") < 1_000.0).select("k", "v")
    assert kept_rgs(df) == 1
    got = tdigest_count_agg(df, "v", 100, keys=["k"]).collect()
    assert got[0]["count"] == 1_000
    # int ge: prunable
    df2 = spark.read.parquet(f).filter(F.col("i") >= 9_000).select("k", "v")
    assert kept_rgs(df2) == 1
    # float ge: NOT pruned (a group of NaNs would match in Spark's
    # ordering but parquet stats exclude NaN)
    df3 = spark.read.parquet(f).filter(F.col("v") >= 9_000.0).select("k", "v")
    assert kept_rgs(df3) == 10
    got3 = tdigest_count_agg(df3, "v", 100, keys=["k"]).collect()
    assert got3[0]["count"] == 1_000


def test_native_scan_nan_ordering_matches_spark(spark, tmp_path_factory):
    """Spark orders NaN above every value (NaN > lit is TRUE); the
    native mask must agree for float gt/ge, and NaN literals fall back
    to Catalyst."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tdigest_spark.spark import arrow_agg
    from tdigest_spark.spark.tdigest_agg import tdigest_count_agg

    f = str(tmp_path_factory.mktemp("nan") / "t.parquet")
    pq.write_table(
        pa.table(
            {
                "k": ["a"] * 5,
                "x": pa.array([1.0, 20.0, float("nan"), float("nan"), 5.0]),
                "v": pa.array([1.0] * 5),  # digest input (NaN-free)
            }
        ),
        f,
    )
    for pred, want_n in [
        (F.col("x") > 10.0, 3),   # 20 + two NaNs
        (F.col("x") >= 5.0, 4),
        (F.col("x") < 10.0, 2),
        (F.col("x") <= 1.0, 1),
    ]:
        df = spark.read.parquet(f).filter(pred).select("k", "v")
        assert arrow_agg._native_parquet_splits(df, ["k", "v"]) is not None
        got = tdigest_count_agg(df, "v", 100, keys=["k"]).collect()
        n = got[0]["count"] if got else 0
        assert n == df.count() == want_n, (str(pred), n, want_n)
    # NaN literal → Catalyst path
    nan_pred = spark.read.parquet(f).filter(
        F.col("x") == float("nan")
    ).select("k", "v")
    assert arrow_agg._native_parquet_splits(nan_pred, ["k", "v"]) is None


def test_recompact_preserves_mass_and_is_forced(spark):
    """recompact() re-merges stored centroids (union(NULL, d) idiom):
    count is preserved, estimates stay in-bound, and an uncompacted
    serialized digest actually shrinks."""
    vals = np.random.RandomState(3).rand(900)  # < BUFFER_SIZE(100)
    d = TDigest(100)
    d.add_values(vals, compact_threshold=1 << 62)
    raw = d.to_bytes(compact=False)
    r = TDigest.from_bytes(raw)
    assert len(r.means) == 900
    r.recompact()
    assert r.count == 900
    assert len(r.means) < 200
    xs = np.sort(vals)
    rank = np.searchsorted(xs, r.quantile(0.5), side="right") / len(xs)
    assert abs(rank - 0.5) < 0.02


# ----------------------------------------------------------------------
# driver-free pipeline operators
# ----------------------------------------------------------------------
def test_exact_dup_pairs_streams(spark):
    """No per-group arrays: the plan must not contain collect_list, and
    the output pairs are unchanged."""
    from tdigest_spark.dedup import exact_dup_pairs

    rows = [(1, "aa bb"), (2, "aa  bb"), (3, "cc"), (4, "AA BB"), (5, "dd")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = exact_dup_pairs(df, "doc_id", "text")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    got = {(r["keep_id"], r["dup_id"]) for r in pairs.collect()}
    assert got == {(1, 2), (1, 4)}


def test_cosine_pairs_above_is_broadcast_join(spark):
    """The exact pair verifier must be a broadcast join over JVM
    expressions — no full-table collect to the driver."""
    from tdigest_spark.similarity import cosine_pairs_above

    rng = np.random.RandomState(11)
    vecs = rng.randn(40, 8)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    res = cosine_pairs_above(df, "vec_id", "embedding", 0.5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    got = {(r["id_a"], r["id_b"]) for r in res.collect()}
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = unit @ unit.T
    want = {
        (i, j)
        for i in range(40)
        for j in range(i + 1, 40)
        if sims[i, j] >= 0.5
    }
    assert got == want


# ----------------------------------------------------------------------
# reservoir: bottom-k over distinct hashes at every stage
# ----------------------------------------------------------------------
def test_reservoir_duplicates_partition_invariant():
    r_dup = Reservoir(k=2, seed=1)
    r_dup.add_hashes([5, 5, 1, 2])
    r_dist = Reservoir(k=2, seed=1)
    r_dist.add_hashes([5, 1, 2])
    assert r_dup.sample_hashes().tolist() == r_dist.sample_hashes().tolist()

    split_a = Reservoir(k=2, seed=1)
    split_a.add_hashes([5, 5])
    split_b = Reservoir(k=2, seed=1)
    split_b.add_hashes([1, 2])
    split_a.merge(split_b)
    assert split_a.sample_hashes().tolist() == r_dup.sample_hashes().tolist()


def test_reservoir_sample_size_is_min_k_distinct():
    r = Reservoir(k=3, seed=7)
    r.add_hashes([9, 9, 9])
    assert len(r.sample_hashes()) == 1


# ----------------------------------------------------------------------
# streaming: idle windows must not be evicted while still open
# ----------------------------------------------------------------------
def test_streaming_idle_window_survives_watermark_advance(
    spark, tmp_path_factory
):
    """A window that receives no rows for one micro-batch while the
    watermark advances must keep its state and fold later in-window
    rows into the SAME digest (the watermark-relative timeout bug
    dropped it and silently undercounted)."""
    import pandas as pd

    from tdigest_spark.streaming.digest_stream import streaming_windowed_tdigest

    d = tmp_path_factory.mktemp("idle_src")
    rng = np.random.RandomState(5)

    def write(ts_list):
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime(ts_list), "v": rng.rand(len(ts_list))}
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(d))
        time.sleep(0.2)  # distinct mtimes -> deterministic batch order

    # batch 1: 100 rows in window 10:00-11:00
    write([f"2024-01-01 10:{m:02d}:00" for m in range(10)] * 10)
    # batch 2: rows only at 12:30 (other window); watermark -> 10:30,
    # window 10:00-11:00 is idle but still open (10:30 < 11:00)
    write(["2024-01-01 12:30:00"] * 5)
    # batch 3: 50 more rows for 10:00-11:00, all admissible (>= 10:30)
    write([f"2024-01-01 10:{m:02d}:30" for m in range(40, 50)] * 5)

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    out = streaming_windowed_tdigest(
        stream, "ts", "v", window_duration="1 hour", watermark_delay="2 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("idle_win")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("idle_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM idle_win").collect()
    by_window = {}
    for r in rows:
        # collected timestamps are naive machine-local wall time; the
        # session computes windows in UTC — normalize before keying
        k = (
            r["window_start"]
            .astimezone(datetime.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%S")
        )
        by_window[k] = max(by_window.get(k, 0), r["count"])
    assert by_window["2024-01-01T10:00:00"] == 150, by_window


# ----------------------------------------------------------------------
# checkpoint: Hadoop-FS resume detection + NaN-safe lineage
# ----------------------------------------------------------------------
def test_is_complete_via_hadoop_fs(spark, tmp_path_factory):
    from tdigest_spark.checkpoint import build_partial_digests, is_complete

    ckpt = str(tmp_path_factory.mktemp("ck") / "partials")
    assert not is_complete(ckpt, spark)
    df = spark.range(100).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    build_partial_digests(df, ["g"], "v", 100, ckpt)
    assert is_complete(ckpt, spark)
    assert is_complete(ckpt)  # ActiveSession fallback resolves too


def test_checkpoint_keys_out_of_schema_order(spark, tmp_path_factory):
    """Native-path checkpoint rows are positional: keys requested in a
    different order than the DataFrame schema must not transpose key
    columns (round-2 review regression)."""
    from tdigest_spark.checkpoint import build_partial_digests

    src = str(tmp_path_factory.mktemp("ko") / "t")
    df = spark.range(1000).select(
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
        F.concat(F.lit("l"), (F.col("id") % 3).cast("string")).alias("lang"),
        F.col("id").cast("double").alias("v"),
    )
    df.write.mode("overwrite").parquet(src)
    back = spark.read.parquet(src)
    ckpt = str(tmp_path_factory.mktemp("ko") / "ck")
    partials = build_partial_digests(back, ["lang", "source"], "v", 100, ckpt)
    vals = partials.select("lang", "source").distinct().collect()
    assert all(r["lang"].startswith("l") and r["source"].startswith("s") for r in vals)


def test_exact_dup_pairs_null_text(spark):
    """Rows with NULL text form one duplicate group (null-safe join,
    matching the former groupBy semantics)."""
    from tdigest_spark.dedup import exact_dup_pairs

    rows = [(1, None), (2, "x"), (3, None), (4, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["keep_id"], r["dup_id"])
        for r in exact_dup_pairs(df, "doc_id", "text").collect()
    }
    assert got == {(1, 3), (1, 4)}


def test_native_scan_rejects_unsafe_casts_and_null_in(spark, tmp_path_factory):
    """Narrowing/parsing casts and IN-lists containing NULL stay on the
    Catalyst path (pyarrow's cast/is_in semantics diverge from Spark
    there); NOT IN over a nullable column matches Catalyst exactly."""
    from tdigest_spark.spark import arrow_agg
    from tdigest_spark.spark.tdigest_agg import tdigest_count_agg

    src = str(tmp_path_factory.mktemp("uc") / "t")
    df = spark.range(100).select(
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 3).cast("string")))
        .alias("k"),
        (F.col("id") + 0.5).alias("v"),
    )
    df.write.mode("overwrite").parquet(src)
    back = spark.read.parquet(src)
    # narrowing double→int cast must not be claimed by the native scan
    narrowed = back.select("k", F.col("v").cast("int").alias("vi"))
    assert arrow_agg._native_parquet_splits(narrowed, ["k", "vi"]) is None
    # NOT IN over nullable k: NULL rows are dropped by SQL semantics
    flt = back.filter(~F.col("k").isin("k0")).select("k", "v")
    est = tdigest_count_agg(flt, "v", 100, keys=["k"])
    got = {r["k"]: r["count"] for r in est.collect()}
    want = {
        r["k"]: r["n"]
        for r in flt.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and None not in got


def test_verify_lineage_with_nans(spark, tmp_path_factory):
    """NaN/NULL values are dropped by the digest; lineage must count
    only ingested rows so the invariant still holds."""
    from tdigest_spark.checkpoint import build_partial_digests, verify_lineage

    ckpt = str(tmp_path_factory.mktemp("cknan") / "partials")
    df = spark.range(1000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.when(F.col("id") % 10 == 0, F.lit(None))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    partials = build_partial_digests(df, ["g"], "v", 100, ckpt)
    res = verify_lineage(partials, expected_rows=900)
    assert res["consistent"], res
    assert res["digest_total_count"] == 900
