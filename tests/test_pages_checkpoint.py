"""Tests for the web-scale harness: pages generator determinism + the
per-url text invariant, checkpointed/resumable builds, lineage."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.checkpoint import (
    build_partial_digests,
    checkpointed_percentile,
    is_complete,
    lineage_summary,
    verify_lineage,
)
from tdigest_spark.kernel.tdigest import TDigest, deserialize
from tdigest_spark.pages import (
    extract_text,
    extract_text_col,
    generate_pages,
    render_html,
)
from tdigest_spark.spark import arrow_agg


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 20_000, partitions=8).cache()


def test_pages_schema_and_skew(pages):
    assert pages.count() == 20_000
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    by_lang = {r["lang"]: r["c"] for r in
               pages.groupBy("lang").agg(F.count("*").alias("c")).collect()}
    assert by_lang["en"] > 0.5 * 20_000  # hot key for salting paths
    assert len(by_lang) == 10


def test_pages_deterministic_across_partitionings(spark):
    a = generate_pages(spark, 2_000, partitions=2).orderBy("url").collect()
    b = generate_pages(spark, 2_000, partitions=7).orderBy("url").collect()
    assert len(a) == len(b) == 2_000
    for ra, rb in zip(a, b):
        assert ra["url"] == rb["url"]
        assert bytes(ra["html"]) == bytes(rb["html"])
        assert ra["text"] == rb["text"]


def test_extract_text_invariant(pages):
    """BASELINE input_hint: per-url extracted text byte-identical."""
    mismatches = pages.select(
        (extract_text_col(F.col("html")) == F.col("text")).alias("ok")
    ).filter(~F.col("ok")).count()
    assert mismatches == 0


def test_extract_text_pure_function():
    html = render_html("https://x.com/1", "hello world. second sentence here.", "en")
    assert extract_text(html) == "hello world. second sentence here."


def test_checkpoint_build_and_resume(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt") / "partials")
    df = generate_pages(spark, 10_000, partitions=4).select(
        "lang", F.length("text").cast("double").alias("text_len")
    )
    partials = build_partial_digests(df, ["lang"], "text_len", 100, ckpt)
    assert is_complete(ckpt)
    n_first = partials.count()
    lineage = verify_lineage(partials, expected_rows=10_000)
    assert lineage["consistent"], lineage
    assert lineage["rows_consumed"] == 10_000

    # resume: a second call must READ the checkpoint, not rebuild —
    # prove it with an input that would change the output if rescanned
    # (identical output alone is also consistent with a deterministic
    # rebuild)
    poisoned = df.withColumn("text_len", F.col("text_len") * 1000)
    partials2 = build_partial_digests(poisoned, ["lang"], "text_len", 100, ckpt)
    assert partials2.count() == n_first
    a = sorted(
        (r["lang"], r["split_id"], bytes(r["digest"])) for r in partials.collect()
    )
    b = sorted(
        (r["lang"], r["split_id"], bytes(r["digest"])) for r in partials2.collect()
    )
    assert a == b

    summary = lineage_summary(partials).collect()
    assert sum(r["rows_consumed"] for r in summary) == 10_000


def test_checkpointed_percentile_matches_direct(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt2") / "partials")
    df = generate_pages(spark, 10_000, partitions=4).select(
        "lang", F.length("text").cast("double").alias("text_len")
    ).cache()
    res = {
        r["lang"]: r["percentile"]
        for r in checkpointed_percentile(
            df, ["lang"], "text_len", 100, 0.95, ckpt, salt=4
        ).collect()
    }
    pdf = df.toPandas()
    for lang, sub in pdf.groupby("lang"):
        xs = np.sort(sub["text_len"].to_numpy())
        rank = np.searchsorted(xs, res[lang], side="right") / len(xs)
        assert abs(rank - 0.95) < 0.02, (lang, res[lang], rank)


def test_checkpoint_ungrouped_native_scan(spark, tmp_path_factory):
    """keys=() on the native-scan path: the _group_slices sentinel key
    must NOT be emitted (it shifted every column right by one)."""
    src = str(tmp_path_factory.mktemp("ck_ungrouped") / "t.parquet")
    spark.range(10_000).select(
        (F.col("id") % 97).cast("double").alias("v")
    ).write.parquet(src)
    df = spark.read.parquet(src)
    ck = str(tmp_path_factory.mktemp("ck_ungrouped_out"))
    partials = build_partial_digests(df, (), "v", 100, ck)
    assert set(partials.columns) == {
        "digest", "split_id", "n_rows", "n_centroids", "n_bytes"
    }
    info = verify_lineage(partials, expected_rows=10_000)
    assert info["consistent"] and info["rows_consumed"] == 10_000


def test_verify_lineage_empty_checkpoint(spark, tmp_path_factory):
    """Zero-row partials: SUM() is NULL — must report zeros, not raise."""
    src = str(tmp_path_factory.mktemp("ck_empty") / "t.parquet")
    spark.range(100).select(
        F.col("id").cast("double").alias("v"), (F.col("id") % 3).alias("g")
    ).filter(F.col("v") < -1).write.parquet(src)
    df = spark.read.parquet(src)
    ck = str(tmp_path_factory.mktemp("ck_empty_out"))
    partials = build_partial_digests(df, ("g",), "v", 100, ck)
    info = verify_lineage(partials)
    assert info["rows_consumed"] == 0 and info["digest_total_count"] == 0
    assert info["consistent"]


def test_write_batch_digests_replay_idempotent(spark, tmp_path_factory):
    """Re-running the same batch_id (foreachBatch replay after a crash
    between write and offset commit) must not double-count."""
    from tdigest_spark.spark.functions import tdigest_count
    from tdigest_spark.streaming.digest_stream import write_batch_digests

    out = str(tmp_path_factory.mktemp("fbu_out"))
    batch = spark.range(5_000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 101).cast("double").alias("v")
    )
    write_batch_digests(batch, 7, ["g"], "v", 100, out)
    write_batch_digests(batch, 7, ["g"], "v", 100, out)  # replay
    rolled = spark.read.parquet(out)
    total = rolled.agg(
        F.sum(tdigest_count(F.col("tdigest"))).alias("n")
    ).collect()[0]["n"]
    assert total == 5_000


@pytest.mark.parametrize("native", [True, False], ids=["native", "catalyst"])
def test_checkpoint_rows_are_scalar_digests(spark, tmp_path, monkeypatch, native):
    """Over a one-split input, each checkpoint row holds the digest that
    ``TDigest.add_values`` builds from its group's values, byte for
    byte, and lineage read off that blob; an all-NaN group has a NULL
    digest and zero rows, centroids and bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    k = np.repeat(["big", "small", "nan"], [6000, 40, 25])
    v = rng.lognormal(0.0, 1.0, k.size)
    v[k == "nan"] = np.nan
    v[rng.random(k.size) < 0.02] = np.nan
    path = str(tmp_path / "in.parquet")
    pq.write_table(pa.table({"k": k, "v": v}), path)
    df = spark.read.parquet(path)
    assert len(arrow_agg._native_parquet_splits(df, ["k", "v"])[0]) == 1
    monkeypatch.setattr(arrow_agg, "NATIVE_SCAN", native)
    rows = build_partial_digests(df, ["k"], "v", 100, str(tmp_path / "ckpt")).collect()
    assert sorted(r["k"] for r in rows) == ["big", "nan", "small"]
    for r in rows:
        d = TDigest(100)
        d.add_values(v[k == r["k"]])
        assert r["split_id"] == 0
        if r["k"] == "nan":
            assert r["digest"] is None
            assert (r["n_rows"], r["n_centroids"], r["n_bytes"]) == (0, 0, 0)
            continue
        blob = bytes(r["digest"])
        assert blob == d.to_bytes()
        means, _, count, _ = deserialize(blob)
        assert (r["n_rows"], r["n_centroids"], r["n_bytes"]) == (count, means.size, len(blob))
