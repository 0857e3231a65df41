"""Structured Streaming tests: stateful digest maintenance equals the
batch build over the same rows."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tdigest_spark.kernel.tdigest import TDigest
from tdigest_spark.spark.tdigest_agg import tdigest_union_agg
from tdigest_spark.streaming.digest_stream import (
    foreach_batch_union,
    streaming_tdigest,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Three parquet chunk files simulating stream arrivals."""
    d = tmp_path_factory.mktemp("stream_src")
    rng = np.random.RandomState(42)
    import pandas as pd

    all_rows = []
    for i in range(3):
        pdf = pd.DataFrame(
            {
                "g": rng.choice(["a", "b"], size=5000),
                "v": rng.rand(5000) * 100,
            }
        )
        all_rows.append(pdf)
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(d))
    return str(d), pd.concat(all_rows)


def test_streaming_tdigest_matches_batch(spark, stream_dir, tmp_path_factory):
    src, all_pdf = stream_dir
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_tdigest(stream, ["g"], "v", compression=100)
    q = (
        out.writeStream.format("memory")
        .queryName("digests")
        .outputMode("update")
        .option(
            "checkpointLocation", str(tmp_path_factory.mktemp("ckpt_stream"))
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # last update per group = final state
    rows = spark.sql(
        "SELECT * FROM digests"
    ).collect()
    final = {}
    for r in rows:
        if r["g"] not in final or r["count"] > final[r["g"]]["count"]:
            final[r["g"]] = {"count": r["count"], "digest": bytes(r["digest"])}
    for g, sub in all_pdf.groupby("g"):
        xs = np.sort(sub["v"].to_numpy())
        assert final[g]["count"] == len(xs)
        d = TDigest.from_bytes(final[g]["digest"])
        est = d.quantile(0.9)
        rank = np.searchsorted(xs, est, side="right") / len(xs)
        assert abs(rank - 0.9) < 0.015, (g, est, rank)


def test_foreach_batch_union(spark, stream_dir, tmp_path_factory):
    src, all_pdf = stream_dir
    schema = spark.read.parquet(src).schema
    out_dir = str(tmp_path_factory.mktemp("stream_out") / "digests")
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = foreach_batch_union(stream, ["g"], "v", 100, out_dir, ckpt).start()
    assert q.awaitTermination(120)
    stored = spark.read.parquet(out_dir)
    assert stored.select("batch_id").distinct().count() == 3
    rolled = tdigest_union_agg(stored, "tdigest", keys=["g"]).collect()
    for r in rolled:
        sub = all_pdf[all_pdf["g"] == r["g"]]
        d = TDigest.from_bytes(bytes(r["tdigest"]))
        assert d.count == len(sub)
        xs = np.sort(sub["v"].to_numpy())
        rank = np.searchsorted(xs, d.quantile(0.5), side="right") / len(xs)
        assert abs(rank - 0.5) < 0.015


def test_streaming_windowed_tdigest(spark, tmp_path_factory):
    """Event-time tumbling windows with watermark: final per-window
    digests match the batch grouping."""
    import pandas as pd

    from tdigest_spark.streaming.digest_stream import streaming_windowed_tdigest

    d = tmp_path_factory.mktemp("win_src")
    rng = np.random.RandomState(7)
    base = pd.Timestamp("2024-01-01")
    chunks = []
    for i in range(3):
        pdf = pd.DataFrame(
            {
                "ts": base + pd.to_timedelta(rng.randint(0, 6 * 3600, 4000), unit="s"),
                "v": rng.rand(4000) * 10,
            }
        )
        chunks.append(pdf)
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(d))
    all_pdf = pd.concat(chunks)
    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    out = streaming_windowed_tdigest(
        stream, "ts", "v", window_duration="1 hour", watermark_delay="10 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("win_digests")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("win_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM win_digests").collect()
    final = {}
    for r in rows:
        k = r["window_start"]
        if k not in final or r["count"] > final[k]["count"]:
            final[k] = {"count": r["count"], "digest": bytes(r["digest"])}
    all_pdf["win"] = all_pdf["ts"].dt.floor("h")
    grouped = all_pdf.groupby("win")
    assert len(final) == grouped.ngroups == 6
    import datetime as _dt

    for win, sub in grouped:
        key = win.to_pydatetime()
        # spark returns naive machine-local wall times; inputs were
        # interpreted in the UTC-pinned session — normalize to compare
        match = [
            v
            for k, v in final.items()
            if k.astimezone(_dt.timezone.utc).replace(tzinfo=None) == key
        ]
        assert match, (key, list(final))
        st = match[0]
        assert st["count"] == len(sub)
        dd = TDigest.from_bytes(st["digest"])
        xs = np.sort(sub["v"].to_numpy())
        rank = np.searchsorted(xs, dd.quantile(0.5), side="right") / len(xs)
        assert abs(rank - 0.5) < 0.02


def test_resolve_session_tz_offset_styles():
    """Spark accepts offset-style session timezones ('GMT+8', '+08:00',
    'UTC+05:30') that ZoneInfo cannot resolve — the plan-time resolver
    must parse them into fixed offsets, keep region ids working, and
    fail fast (not inside a worker) on garbage."""
    import datetime as dt

    from tdigest_spark.streaming.digest_stream import _resolve_session_tz

    probe = dt.datetime(2024, 1, 1)
    assert _resolve_session_tz("GMT+8").utcoffset(probe) == dt.timedelta(hours=8)
    assert _resolve_session_tz("+08:00").utcoffset(probe) == dt.timedelta(hours=8)
    assert _resolve_session_tz("UTC+05:30").utcoffset(probe) == dt.timedelta(
        hours=5, minutes=30
    )
    assert _resolve_session_tz("-07:00").utcoffset(probe) == dt.timedelta(hours=-7)
    assert _resolve_session_tz("UTC").utcoffset(probe) == dt.timedelta(0)
    assert _resolve_session_tz("America/New_York").utcoffset(
        dt.datetime(2024, 7, 1)
    ) == dt.timedelta(hours=-4)
    with pytest.raises(ValueError):
        _resolve_session_tz("Not/AZone")


def test_suite_windowed_queries_restore_session_tz(spark):
    """q_windowed_percentile pins the session timezone to UTC for its
    oracle alignment but must restore the caller's value (a silently
    mutated shared session breaks every later query)."""
    from tests.conftest import SF_SMALL as sf_dir
    from tdigest_spark.suite import q_windowed_percentile

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        res = q_windowed_percentile(spark, sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
        rows = res.collect()
        assert rows and all(r["ok"] for r in rows)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


# ----------------------------------------------------------------------
# streaming exact dedup
# ----------------------------------------------------------------------
def test_streaming_exact_dedup_cross_batch(spark, tmp_path_factory):
    from tdigest_spark.streaming.dedup_stream import streaming_exact_dedup

    src = tmp_path_factory.mktemp("sdedup_src")
    # batch 1: docs 0-9; batch 2: copies of 0-4 (different whitespace /
    # case) + new docs 10-14; batch 3: copy of doc 10
    rows1 = [(i, f"doc number {i} body", 1_700_000_000 + i) for i in range(10)]
    rows2 = [(100 + i, f"  DOC  number {i} BODY ", 1_700_000_100 + i) for i in range(5)]
    rows2 += [(i, f"doc number {i} body", 1_700_000_100 + i) for i in range(10, 15)]
    rows3 = [(210, "doc number 10 body", 1_700_000_200)]
    for rows in (rows1, rows2, rows3):
        spark.createDataFrame(rows, ["id", "text", "epoch"]).withColumn(
            "ts", F.timestamp_seconds("epoch")
        ).drop("epoch").coalesce(1).write.mode("append").parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    out = streaming_exact_dedup(stream, "ts", text_col="text", watermark_delay="1 hour")
    sink = tmp_path_factory.mktemp("sdedup_out")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path_factory.mktemp("sdedup_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    surv = spark.read.parquet(str(sink)).collect()
    # 15 distinct normalized texts survive; every cross-batch copy dropped
    assert len(surv) == 15
    assert len({r["content_fp"] for r in surv}) == 15
    assert {r["id"] for r in surv} == set(range(15))


def test_streaming_dedup_arg_validation(spark):
    from tdigest_spark.streaming.dedup_stream import streaming_exact_dedup

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError):
        streaming_exact_dedup(df, "timestamp")
    with pytest.raises(ValueError):
        streaming_exact_dedup(df, "timestamp", text_col="x", subset=["y"])


def test_streaming_hll_distinct_accumulates(spark, tmp_path_factory):
    from tdigest_spark.kernel.hll import HLL
    from tdigest_spark.streaming.digest_stream import streaming_hll_distinct

    src = tmp_path_factory.mktemp("shll_src")
    # 3 batches, overlapping values: batch k carries values k*500..k*500+999
    for k in range(3):
        spark.range(k * 500, k * 500 + 1000).select(
            F.lit("g").alias("g"), F.xxhash64(F.col("id")).alias("h")
        ).coalesce(1).write.mode("append").parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    out = streaming_hll_distinct(stream, ["g"], "h")
    q = (
        out.writeStream.format("memory")
        .queryName("shll_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("shll_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM shll_t").collect()
    best = max(r["estimate"] for r in rows)
    # exact distinct = 2000 (ids 0..1999); p=14 band ~1%
    assert abs(best - 2000) / 2000 < 0.03
    final_blob = max(rows, key=lambda r: r["estimate"])["hll"]
    assert HLL.from_bytes(bytes(final_blob)).cardinality() == best


def test_streaming_countmin_bounded_state_and_batch_parity(
    spark, tmp_path_factory
):
    """Per-key count-min state stays a fixed-size table across batches
    (the serialized blob never grows with stream length), the final
    sketch is byte-identical to a batch-built one over the same rows
    (sums are order-independent, shared xxhash64 family), and point
    estimates are one-sided."""
    from tdigest_spark.kernel.countmin import CountMin
    from tdigest_spark.streaming.digest_stream import streaming_countmin

    src = tmp_path_factory.mktemp("scm_src")
    # zipf-ish skew: value v repeated (20 - v) times per batch
    base = spark.range(0, 20).selectExpr(
        "explode(sequence(1, 20 - cast(id as int))) as rep", "id as v"
    )
    for _ in range(3):  # three identical micro-batches
        base.select(
            F.lit("g").alias("g"), F.xxhash64(F.col("v")).alias("h")
        ).coalesce(1).write.mode("append").parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_countmin(stream, ["g"], "h", width=256, depth=5)
    q = (
        out.writeStream.format("memory")
        .queryName("scm_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("scm_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM scm_t").collect()
    assert len(rows) == 3  # one update per micro-batch
    # bounded state: every emitted blob has the same fixed size
    sizes = {len(bytes(r["countmin"])) for r in rows}
    assert len(sizes) == 1
    totals = sorted(r["total"] for r in rows)
    assert totals == [210, 420, 630]  # 3 batches x sum(1..20)
    final = bytes(max(rows, key=lambda r: r["total"])["countmin"])
    # batch parity: one sketch over all three batches, identical bytes
    batch = CountMin(256, 5)
    hashes = (
        spark.read.parquet(str(src)).select("h").toPandas()["h"].to_numpy("int64")
    )
    batch.add_hashes(hashes)
    assert batch.to_bytes() == final
    # one-sided estimates on the true values
    import numpy as np

    cm = CountMin.from_bytes(final)
    vals = spark.range(0, 20).select(F.xxhash64("id").alias("h")).toPandas()[
        "h"
    ].to_numpy("int64")
    est = cm.estimate_hashes(vals)
    true = np.array([3 * (20 - v) for v in range(20)])
    assert (est >= true).all()


def test_streaming_kll_bounded_state_and_quantiles(spark, tmp_path_factory):
    """Per-key KLL state stays bounded across batches (the serialized
    sketch never exceeds its compactor budget even as n grows 3x), n
    equals the exact value count, and the final median lands the
    rank band on the union of all batches."""
    import numpy as np

    from tdigest_spark.kernel.kll import KLL
    from tdigest_spark.streaming.digest_stream import streaming_kll

    src = tmp_path_factory.mktemp("skll_src")
    # batch k carries values k*1000 .. k*1000+2999 (disjoint ranges, so
    # the stream's distribution shifts between batches)
    for k in range(3):
        spark.range(k * 1000, k * 1000 + 3000).select(
            F.lit("g").alias("g"), F.col("id").cast("double").alias("v")
        ).coalesce(1).write.mode("append").parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_kll(stream, ["g"], "v", k=200)
    q = (
        out.writeStream.format("memory")
        .queryName("skll_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("skll_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM skll_t").collect()
    assert len(rows) == 3
    assert sorted(r["n"] for r in rows) == [3000, 6000, 9000]
    # bounded state: the 9000-value sketch is no bigger than ~3k items
    sizes = {r["n"]: len(bytes(r["kll"])) for r in rows}
    assert sizes[9000] <= 3 * 200 * 8 + 4096
    final = KLL.from_bytes(bytes(max(rows, key=lambda r: r["n"])["kll"]))
    assert final.n == 9000
    # batch ranges 0-2999 / 1000-3999 / 2000-4999 overlap, so check the
    # median by exact rank over the full multiset rather than by value
    vals = np.concatenate(
        [np.arange(k * 1000, k * 1000 + 3000) for k in range(3)]
    ).astype(np.float64)
    med = final.quantile(0.5)
    rank = (vals <= med).mean()
    assert abs(rank - 0.5) < 0.03


def test_streaming_topk_eviction_and_guarantees(spark, tmp_path_factory):
    """With distinct items exceeding the m=8 counters the SpaceSaving
    guarantees must hold across micro-batches: every item with true
    frequency > N/m is retained, estimates are one-sided within the
    N/m error bound, and state stays at m counters."""
    from tdigest_spark.kernel.topk import SpaceSaving
    from tdigest_spark.streaming.digest_stream import streaming_topk

    src = tmp_path_factory.mktemp("stopk_src")
    # 20 distinct items, zipf-ish: item_j appears (21-j)*3 times/batch
    base = spark.range(1, 21).selectExpr(
        "explode(sequence(1, 3 * (21 - cast(id as int)))) as rep",
        "concat('item', id) as item",
    )
    for _ in range(3):
        base.select(F.lit("g").alias("g"), "item").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = streaming_topk(stream, ["g"], "item", m=8)
    q = (
        out.writeStream.format("memory")
        .queryName("stopk_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("stopk_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stopk_t").collect()
    assert len(rows) == 3
    n_total = 3 * sum(3 * (21 - j) for j in range(1, 21))  # 1890
    final = SpaceSaving.from_bytes(
        bytes(max(rows, key=lambda r: r["n"])["topk"])
    )
    assert final.n == n_total == max(r["n"] for r in rows)
    top = final.top(8)
    assert len(top) == 8  # state bounded at m counters
    true = {f"item{j}": 3 * 3 * (21 - j) for j in range(1, 21)}
    bound = n_total / 8
    retained = {item for item, _, _ in top}
    for item, freq in true.items():
        if freq > bound:
            assert item in retained, (item, freq, bound)
    for item, est, err in top:
        assert true[item] <= est <= true[item] + err
        assert err <= bound


def test_streaming_windowed_hll_state_expires(spark, tmp_path_factory):
    """Windowed streaming HLL (windowed mode of the shared _sketch_stage
    plumbing): per-window distinct estimates land the HLL error band,
    and — the point of the windowed form — state for windows idle past
    the watermark horizon is FREED: the state store's numRowsTotal must
    DROP once the watermark passes their window end.  The unwindowed
    streaming_hll_distinct never expires state (NoTimeout), so this is
    the unbounded-key-space deployment shape."""
    import datetime as _dt
    import json
    import time

    import pandas as pd

    from tdigest_spark.streaming.digest_stream import streaming_windowed_hll

    d = tmp_path_factory.mktemp("whll_src")

    def write(day, ids):
        pdf = pd.DataFrame(
            {
                "ts": pd.to_datetime([f"2024-01-{day:02d} 12:00:00"] * len(ids)),
                "uid": pd.array(ids, dtype="int64"),
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(str(d))
        time.sleep(0.2)  # distinct mtimes -> deterministic batch order

    # two early windows, then two batches far in the future: batch 3
    # carries day-20 rows (watermark still day-2-based while it runs),
    # batch 4's watermark (day 20 minus delay) is past BOTH early
    # window ends -> their state must be evicted during batch 4
    write(1, list(range(100)) + list(range(50, 150)))  # day 1: 150 distinct
    write(2, list(range(200)))                         # day 2: 200 distinct
    write(20, list(range(10)))
    write(20, list(range(5, 15)))                      # day 20: 15 distinct

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    hashed = stream.select("ts", F.xxhash64("uid").alias("h"))
    out = streaming_windowed_hll(
        hashed, "ts", "h", window_duration="1 day", watermark_delay="1 hour"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("whll")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("whll_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    totals = [
        json.loads(p.json)["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if json.loads(p.json)["stateOperators"]
    ]
    # eviction cascade (watermark advances one batch behind the data):
    # day-1 evicted while day-2 + day-20 are live, then day-2 evicted —
    # only the still-open day-20 window may hold state at the end
    assert max(totals) >= 2, totals
    assert totals[-1] == 1 < max(totals), totals

    rows = spark.sql("SELECT * FROM whll").collect()
    final = {}
    for r in rows:
        k = (
            r["window_start"]
            .astimezone(_dt.timezone.utc)
            .strftime("%Y-%m-%d")
        )
        final[k] = max(final.get(k, 0), r["estimate"])
    want = {"2024-01-01": 150, "2024-01-02": 200, "2024-01-20": 15}
    assert set(final) == set(want)
    for day, exact in want.items():
        assert abs(final[day] - exact) <= max(3, 0.05 * exact), (day, final)


def test_streaming_windowed_companion_sketches(spark, tmp_path_factory):
    """The three remaining windowed companion forms (count-min, KLL,
    SpaceSaving top-k) on the shared _sketch_stage windowed
    plumbing: per-window final sketches match exact per-window answers,
    and the count-min window sketch is BYTE-identical to a batch build
    over the same rows (the table is an order-independent sum).  State
    expiry itself is proven once on the shared plumbing
    (test_streaming_windowed_hll_state_expires)."""
    import datetime as _dt
    import time

    import pandas as pd

    from tdigest_spark.kernel.countmin import CountMin
    from tdigest_spark.kernel.kll import KLL
    from tdigest_spark.kernel.topk import SpaceSaving
    from tdigest_spark.streaming.digest_stream import (
        streaming_windowed_countmin,
        streaming_windowed_kll,
        streaming_windowed_topk,
    )

    d = tmp_path_factory.mktemp("wcomp_src")
    rng = np.random.RandomState(11)
    chunks = []
    for day, nfile in ((1, 2), (2, 1)):  # day 1 split across two batches
        for _ in range(nfile):
            pdf = pd.DataFrame(
                {
                    "ts": pd.to_datetime(f"2024-03-{day:02d} 08:00:00")
                    + pd.to_timedelta(rng.randint(0, 3600, 3000), unit="s"),
                    "item": [f"it{j}" for j in rng.zipf(1.6, 3000) % 40],
                    "v": rng.rand(3000) * 100.0,
                }
            )
            chunks.append(pdf)
            sdf = spark.createDataFrame(pdf).withColumn(
                "h", F.xxhash64("item")
            )
            sdf.coalesce(1).write.mode("append").parquet(str(d))
            time.sleep(0.2)  # distinct mtimes -> deterministic batch order
    all_pdf = pd.concat(chunks, ignore_index=True)
    # recover the exact Spark-side hashes so the exact side shares them
    hmap = {
        r["item"]: r["h"]
        for r in spark.read.parquet(str(d)).select("item", "h").distinct().collect()
    }
    all_pdf["h"] = all_pdf["item"].map(hmap).astype(np.int64)
    all_pdf["day"] = all_pdf["ts"].dt.floor("d")

    schema = spark.read.parquet(str(d)).schema

    def run(make, name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d))
        )
        q = (
            make(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path_factory.mktemp(name)))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        final = {}
        for r in spark.sql(f"SELECT * FROM {name}").collect():
            k = r["window_start"].astimezone(_dt.timezone.utc).strftime("%Y-%m-%d")
            prev = final.get(k)
            if prev is None or r[tot_col] > prev[tot_col]:
                final[k] = r
        return final

    grouped = {
        day.strftime("%Y-%m-%d"): sub for day, sub in all_pdf.groupby("day")
    }
    assert len(grouped) == 2

    # --- count-min: totals exact, estimates within bound, byte-parity
    tot_col = "total"
    fin = run(
        lambda s: streaming_windowed_countmin(
            s, "ts", "h", window_duration="1 day", watermark_delay="1 hour"
        ),
        "wcomp_cm",
    )
    assert set(fin) == set(grouped)
    for day, sub in grouped.items():
        cm = CountMin.from_bytes(bytes(fin[day]["countmin"]))
        assert cm.total == len(sub) == fin[day]["total"]
        truth = sub.groupby("h").size()
        est = cm.estimate_hashes(truth.index.to_numpy(dtype=np.int64))
        assert (est >= truth.to_numpy()).all()
        assert (est <= truth.to_numpy() + cm.epsilon * cm.total + 1).all()
        batch = CountMin()
        batch.add_hashes(sub["h"].to_numpy(dtype=np.int64))
        assert batch.to_bytes() == cm.to_bytes()  # order-independent sum

    # --- KLL: n exact, median within rank error
    tot_col = "n"
    fin = run(
        lambda s: streaming_windowed_kll(
            s, "ts", "v", window_duration="1 day", watermark_delay="1 hour"
        ),
        "wcomp_kll",
    )
    assert set(fin) == set(grouped)
    for day, sub in grouped.items():
        s = KLL.from_bytes(bytes(fin[day]["kll"]))
        assert s.n == len(sub) == fin[day]["n"]
        xs = np.sort(sub["v"].to_numpy())
        rank = np.searchsorted(xs, s.quantile(0.5), side="right") / len(xs)
        assert abs(rank - 0.5) < 0.05

    # --- top-k: distinct items (40) < m=64 -> counts are EXACT
    fin = run(
        lambda s: streaming_windowed_topk(
            s, "ts", "item", window_duration="1 day", m=64,
            watermark_delay="1 hour"
        ),
        "wcomp_topk",
    )
    assert set(fin) == set(grouped)
    for day, sub in grouped.items():
        s = SpaceSaving.from_bytes(bytes(fin[day]["topk"]))
        assert s.n == len(sub) == fin[day]["n"]
        truth = sub.groupby("item").size().sort_values(ascending=False)
        for item, est, err in s.top(5):
            assert err == 0
            assert est == int(truth[item])
        assert {t[0] for t in s.top(3)} == set(truth.index[:3])


def test_streaming_tdigest_combine_partials(spark, stream_dir, tmp_path_factory):
    """combine_partials=True (map-side partial digests before the
    stateful shuffle — the streaming scale path) must preserve exact
    per-key counts and land the same rank band as the row-fold form."""
    src, all_pdf = stream_dir
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_tdigest(
        stream, ["g"], "v", compression=100, combine_partials=True
    )
    q = (
        out.writeStream.format("memory")
        .queryName("comb_digests")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("comb_ckpt")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM comb_digests").collect()
    final = {}
    for r in rows:
        if r["g"] not in final or r["count"] > final[r["g"]]["count"]:
            final[r["g"]] = {"count": r["count"], "digest": bytes(r["digest"])}
    for g, sub in all_pdf.groupby("g"):
        st = final[g]
        assert st["count"] == len(sub)
        d = TDigest.from_bytes(st["digest"])
        xs = np.sort(sub["v"].to_numpy())
        for p in (0.1, 0.5, 0.9):
            rank = np.searchsorted(xs, d.quantile(p), side="right") / len(xs)
            assert abs(rank - p) < 0.02, (g, p, rank)


def _run_to_memory(spark, df, name, tmp_path_factory):
    """Drain a streaming DataFrame into a memory table; return its rows."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp(f"ck_{name}")))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), name
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_streaming_builders_reject_float_keys(spark, stream_dir):
    """Every builder emits its keys through pandas, where a float key's
    NaN comes back as NULL (a {1.0, NaN, NULL} key column would emit
    two NULL-key rows) — rejected at plan time for the row-fold
    default, combine_partials and the windowed builders alike."""
    from tdigest_spark.streaming.digest_stream import streaming_windowed_hll

    src, _ = stream_dir
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    fs = stream.withColumn("fkey", F.rand())
    windowed = fs.select(
        "fkey", F.timestamp_seconds(F.lit(0)).alias("ts"), F.xxhash64("g").alias("h")
    )
    builds = {
        "row fold": lambda: streaming_tdigest(fs, ["fkey"], "v"),
        "combine_partials": lambda: streaming_tdigest(
            fs, ["fkey"], "v", combine_partials=True
        ),
        "windowed": lambda: streaming_windowed_hll(windowed, "ts", "h", keys=["fkey"]),
    }
    for build in builds.values():
        with pytest.raises(ValueError, match="float keys"):
            build()


def test_streaming_tdigest_combine_exact_nullable_bigint_keys(spark, tmp_path_factory):
    """combine_partials keeps keys in Arrow through its partial phase:
    a nullable bigint key column with values above 2^53 (where float64
    cannot tell 2^53 + 1 from 2^53) groups exactly, and the NULL key
    stays its own group."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    big = 1 << 53
    rows_per_key = {big + 1: 10, big + 2: 20, (1 << 62) + 3: 30, None: 40}
    schema = StructType(
        [StructField("k", LongType(), True), StructField("v", DoubleType(), True)]
    )
    src = str(tmp_path_factory.mktemp("bigkey_src"))
    for b in range(3):  # every batch mixes NULL and huge keys
        rows = [
            (k, float(b * 100 + i))
            for k, n in rows_per_key.items()
            for i in range(n)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = streaming_tdigest(stream, ["k"], "v", combine_partials=True)
    final = {}
    for r in _run_to_memory(spark, out, "bigkey_comb", tmp_path_factory):
        final[r["k"]] = max(final.get(r["k"], 0), r["count"])
    assert final == {k: 3 * n for k, n in rows_per_key.items()}


def test_streaming_topk_bigint_items_match_batch(spark, tmp_path_factory):
    """Non-string items are cast to string JVM-side, as topk_sketch
    does: a nullable bigint item stream yields the same per-item counts
    (items "3", not "3.0") as topk_sketch over the same rows."""
    from tdigest_spark.kernel.topk import SpaceSaving
    from tdigest_spark.spark.topk_agg import topk_sketch
    from tdigest_spark.streaming.digest_stream import streaming_topk

    src = str(tmp_path_factory.mktemp("topk_int_src"))
    for b in range(3):
        spark.range(b * 500, (b + 1) * 500).select(
            F.lit("g").alias("g"),
            F.when(F.col("id") % 5 != 0, F.col("id") % 7).alias("item"),
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    rows = _run_to_memory(
        spark, streaming_topk(stream, ["g"], "item", m=16), "topk_int", tmp_path_factory
    )
    streamed = SpaceSaving.from_bytes(bytes(max(rows, key=lambda r: r["n"])["topk"]))
    (batch_row,) = topk_sketch(spark.read.parquet(src), "item", keys=["g"], m=16).collect()
    batch = SpaceSaving.from_bytes(bytes(batch_row["topk"]))
    assert streamed.n == batch.n == 1200
    assert streamed.counts == batch.counts
    assert set(streamed.counts) == {str(i) for i in range(7)}


@pytest.mark.parametrize("builder", ["streaming_hll_distinct", "streaming_windowed_countmin"])
def test_streaming_hash_guard_rejects_null_hashes(spark, tmp_path_factory, builder):
    """A NULL in hash_col float-promotes the pandas column (rounding
    63-bit hashes), so the unpacked hash folds fail the query instead
    of folding wrong hashes."""
    from pyspark.errors import StreamingQueryException

    from tdigest_spark.streaming import digest_stream

    src = str(tmp_path_factory.mktemp(f"guard_{builder}"))
    spark.range(100).select(
        F.lit("g").alias("g"),
        F.timestamp_seconds(F.col("id")).alias("ts"),
        F.when(F.col("id") != 7, F.xxhash64("id")).alias("h"),
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    if builder == "streaming_hll_distinct":
        out = digest_stream.streaming_hll_distinct(stream, ["g"], "h")
    else:
        out = digest_stream.streaming_windowed_countmin(stream, "ts", "h", keys=["g"])
    q = (
        out.writeStream.format("memory")
        .queryName(f"guard_{builder}")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path_factory.mktemp("ck_guard")))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="non-nullable int64 hash"):
        q.awaitTermination(180)


def test_prereduce_windowed_packed_matches_unpacked(spark, tmp_path_factory):
    """JVM micro-batch pre-reduction (prereduce_windowed_hashes →
    packed=True fold): the two-stage pipeline's per-(key, window) HLL
    estimates and count-min totals must EQUAL the single-stage unpacked
    path's — HLL because register updates are duplication/order
    insensitive, count-min because the staging carries exact per-hash
    counts.  Also regression-covers the ts_col=="window_start"
    watermark collision (_assign_windows renames the tagged
    column instead of projecting it away)."""
    from tdigest_spark.streaming.digest_stream import (
        prereduce_windowed_hashes,
        read_packed_stream,
        streaming_windowed_countmin,
        streaming_windowed_hll,
    )

    src = str(tmp_path_factory.mktemp("prereduce_src"))
    for i in range(3):
        (
            spark.range(i * 40000, (i + 1) * 40000)
            .select(
                (F.col("id") % 4).alias("key"),
                F.timestamp_seconds(
                    F.unix_timestamp(F.lit("2026-01-01 00:00:00"))
                    + (F.col("id") * 7) % 172800
                ).alias("ts"),
                # dup-heavy: ~5k distinct hashes over 120k events
                F.xxhash64((F.col("id") % 5000).cast("string")).alias("h"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    schema = spark.read.parquet(src).schema

    def replay():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def run(df, name):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option(
                "checkpointLocation", str(tmp_path_factory.mktemp(f"ck_{name}"))
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), name
        return spark.sql(f"SELECT * FROM {name}").collect()

    def finals(rows, col):
        fin = {}
        for r in rows:
            k = (r["key"], r["window_start"])
            fin[k] = max(fin.get(k, 0), r[col])
        return fin

    # stage 1: pure-Catalyst per-batch compaction (no Python exchange)
    staging = str(tmp_path_factory.mktemp("prereduce_staging")) + "/hll"
    q1 = prereduce_windowed_hashes(
        replay(), "ts", "h", "6 hours", staging,
        str(tmp_path_factory.mktemp("ck_stage1")), keys=["key"],
        availableNow=True,
    )
    assert q1.awaitTermination(300)
    staged = spark.read.parquet(f"{staging}/batch=*")
    # the whole point: rows crossing the exchange collapse to
    # O(groups × batches) — 4 keys × 8 windows × 3 batches = 96
    assert staged.count() == 96

    ref = finals(
        run(
            streaming_windowed_hll(
                replay(), "ts", "h", "6 hours", keys=["key"],
                watermark_delay="30 days",
            ),
            "pre_ref_hll",
        ),
        "estimate",
    )
    pk = finals(
        run(
            streaming_windowed_hll(
                read_packed_stream(spark, staging, max_files_per_trigger=1),
                "window_start", "h", "6 hours", keys=["key"],
                watermark_delay="30 days", packed=True,
            ),
            "pre_pk_hll",
        ),
        "estimate",
    )
    assert ref == pk and len(ref) == 32

    # count-sensitive form: staging carries exact per-hash counts
    staging_cm = str(tmp_path_factory.mktemp("prereduce_staging")) + "/cm"
    q2 = prereduce_windowed_hashes(
        replay(), "ts", "h", "6 hours", staging_cm,
        str(tmp_path_factory.mktemp("ck_stage1cm")), keys=["key"],
        with_counts=True, availableNow=True,
    )
    assert q2.awaitTermination(300)
    ref_cm = finals(
        run(
            streaming_windowed_countmin(
                replay(), "ts", "h", "6 hours", keys=["key"],
                watermark_delay="30 days",
            ),
            "pre_ref_cm",
        ),
        "total",
    )
    pk_cm = finals(
        run(
            streaming_windowed_countmin(
                read_packed_stream(spark, staging_cm, max_files_per_trigger=1),
                "window_start", "h", "6 hours", keys=["key"],
                watermark_delay="30 days", packed=True,
            ),
            "pre_pk_cm",
        ),
        "total",
    )
    assert ref_cm == pk_cm and sum(pk_cm.values()) == 120000


def test_prereduce_packed_values_and_topk(spark, tmp_path_factory):
    """Packed folds for the remaining windowed sketch family:
    ``prereduce_windowed_values`` → t-digest/KLL (count-exact,
    quantiles in band — ingest order differs from row order by design)
    and the ``with_counts`` item staging → SpaceSaving top-k (exact
    while distinct ≤ m).  All compared against batch-exact ground
    truth, not another sketch."""
    from tdigest_spark.kernel.kll import KLL
    from tdigest_spark.kernel.tdigest import TDigest
    from tdigest_spark.kernel.topk import SpaceSaving
    from tdigest_spark.streaming.digest_stream import (
        prereduce_windowed_hashes,
        prereduce_windowed_values,
        read_packed_stream,
        streaming_windowed_kll,
        streaming_windowed_tdigest,
        streaming_windowed_topk,
    )

    src = str(tmp_path_factory.mktemp("prv_src"))
    for i in range(3):
        (
            spark.range(i * 30000, (i + 1) * 30000)
            .select(
                (F.col("id") % 2).alias("key"),
                F.timestamp_seconds(
                    F.unix_timestamp(F.lit("2026-01-01 00:00:00"))
                    + (F.col("id") * 11) % 86400
                ).alias("ts"),
                (F.hash("id") % 10000).cast("double").alias("v"),
                # 15 distinct items (sqrt-binned), skewed toward high
                # j; every 97th row NULL — the staging must drop these
                # exactly like the unpacked fold's dropna
                F.when(
                    F.col("id") % 97 != 0,
                    F.concat(
                        F.lit("item_"),
                        (F.pow(F.col("id") % 200, 0.5)).cast("int").cast("string"),
                    ),
                ).alias("item"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    schema = spark.read.parquet(src).schema
    batch = spark.read.parquet(src).withColumn(
        "window_start", F.window("ts", "6 hours")["start"]
    )
    cells = {
        (r["key"], r["window_start"]): r
        for r in batch.groupBy("key", "window_start")
        .agg(
            F.count("*").alias("n"),
            F.count("item").alias("n_item"),  # non-null items only
            F.expr("percentile(v, 0.5)").alias("p50"),
        )
        .collect()
    }
    item_counts = {
        (r["key"], r["window_start"], r["item"]): r["c"]
        for r in batch.filter(F.col("item").isNotNull())
        .groupBy("key", "window_start", "item")
        .agg(F.count("*").alias("c"))
        .collect()
    }

    def replay():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def run(df, name, mono):
        """Final row per (key, window): update-mode memory sink holds
        one row per batch-update, so keep the one with the largest
        ``mono`` (count/n — monotone across a cell's updates; collect
        order is not a contract)."""
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option(
                "checkpointLocation", str(tmp_path_factory.mktemp(f"ck_{name}"))
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), name
        rows = {}
        for r in spark.sql(f"SELECT * FROM {name}").collect():
            k = (r["key"], r["window_start"])
            if k not in rows or r[mono] > rows[k][mono]:
                rows[k] = r
        return rows

    # value staging feeds BOTH t-digest and KLL packed folds
    stg_v = str(tmp_path_factory.mktemp("prv_stg")) + "/v"
    q1 = prereduce_windowed_values(
        replay(), "ts", "v", "6 hours", stg_v,
        str(tmp_path_factory.mktemp("ck_v")), keys=["key"],
        availableNow=True,
    )
    assert q1.awaitTermination(300)
    # 2 keys x 4 windows x 3 batches
    assert spark.read.parquet(f"{stg_v}/batch=*").count() == 24

    cell_vals = {}
    for r in batch.select("key", "window_start", "v").collect():
        cell_vals.setdefault((r["key"], r["window_start"]), []).append(r["v"])
    cell_vals = {k: np.sort(np.asarray(v)) for k, v in cell_vals.items()}

    td = run(
        streaming_windowed_tdigest(
            read_packed_stream(spark, stg_v), "window_start", "v",
            "6 hours", keys=["key"], watermark_delay="30 days",
            packed=True,
        ),
        "prv_td",
        "count",
    )
    assert set(td) == set(cells) and len(cells) == 8
    for k, r in td.items():
        assert r["count"] == cells[k]["n"]
        d = TDigest.from_bytes(r["digest"])
        # rank error at p50 well inside the c=100 band
        rank = (cell_vals[k] <= d.quantiles([0.5])[0]).mean()
        assert abs(rank - 0.5) < 0.02, (k, rank)

    kll = run(
        streaming_windowed_kll(
            read_packed_stream(spark, stg_v), "window_start", "v",
            "6 hours", keys=["key"], watermark_delay="30 days",
            packed=True,
        ),
        "prv_kll",
        "n",
    )
    assert set(kll) == set(cells)
    for k, r in kll.items():
        assert r["n"] == cells[k]["n"]
        q50 = KLL.from_bytes(r["kll"]).quantiles([0.5])[0]
        rank = (cell_vals[k] <= q50).mean()
        assert abs(rank - 0.5) < 0.03, (k, rank)

    # item staging (with_counts pack over a string column) -> top-k;
    # 40 distinct items per cell << m=256, so counts are EXACT
    stg_i = str(tmp_path_factory.mktemp("prv_stg")) + "/i"
    q2 = prereduce_windowed_hashes(
        replay(), "ts", "item", "6 hours", stg_i,
        str(tmp_path_factory.mktemp("ck_i")), keys=["key"],
        with_counts=True, availableNow=True,
    )
    assert q2.awaitTermination(300)
    tk = run(
        streaming_windowed_topk(
            read_packed_stream(spark, stg_i), "window_start", "item",
            "6 hours", keys=["key"], watermark_delay="30 days",
            packed=True,
        ),
        "prv_tk",
        "n",
    )
    assert set(tk) == set(cells)
    total_items = 0
    for k, r in tk.items():
        s = SpaceSaving.from_bytes(r["topk"])
        assert r["n"] == cells[k]["n_item"]
        for item, cnt, err in s.top(100):
            assert err == 0 and cnt == item_counts[(k[0], k[1], item)]
            total_items += 1
    assert total_items > 8 * 10  # every cell surfaced its hitters


def test_window_starts_matches_spark_sliding_window(spark):
    """Differential: the pure-Catalyst sliding start array
    (_window_starts) must reproduce Spark's own F.window(ts, d, s)
    assignment exactly — same grid, same half-open inclusion — across
    boundary-exact, sub-second, and pre-1970 timestamps."""
    from tdigest_spark.streaming.digest_stream import _window_starts

    df = (
        spark.range(5000)
        .select(
            F.col("id"),
            F.timestamp_micros(
                # irregular micros: crosses slide boundaries unevenly,
                # includes exact boundaries (id%7==0 -> multiple of
                # 900s) and negative epochs
                F.when(F.col("id") % 7 == 0, (F.col("id") - 2500) * 900_000_000)
                .otherwise((F.col("id") - 2500) * 13_371_337 + F.col("id") % 3)
            ).alias("ts"),
        )
    )
    mine = df.select(
        "id",
        F.explode(_window_starts("ts", "1 hour", "15 minutes")).alias("w"),
    )
    theirs = df.select(
        "id", F.window("ts", "1 hour", "15 minutes")["start"].alias("w")
    )
    assert mine.count() == 5000 * 4
    assert (
        mine.exceptAll(theirs).count() == 0
        and theirs.exceptAll(mine).count() == 0
    )

    with pytest.raises(ValueError, match="evenly divide"):
        _window_starts("ts", "1 hour", "25 minutes")


def test_streaming_sliding_windowed_hll(spark, tmp_path_factory):
    """Sliding windowed HLL: d=2h sliding by 1h over 3 replayed
    micro-batches — per-window estimates must land the 5% band against
    the batch-exact sliding-window distinct counts (computed with
    Spark's own F.window(ts, d, s)), and the two-stage pre-reduced
    pipeline (slide staged in stage 1, packed fold consuming starts
    verbatim) must produce IDENTICAL finals to the single-stage run."""
    from tdigest_spark.streaming.digest_stream import (
        prereduce_windowed_hashes,
        read_packed_stream,
        streaming_windowed_hll,
    )

    src = str(tmp_path_factory.mktemp("slide_src"))
    for i in range(3):
        (
            spark.range(i * 40000, (i + 1) * 40000)
            .select(
                (F.col("id") % 4).alias("key"),
                F.timestamp_seconds(
                    F.unix_timestamp(F.lit("2026-01-01 00:00:00"))
                    + (F.col("id") * 7) % 43200
                ).alias("ts"),
                F.xxhash64((F.col("id") % 3000).cast("string")).alias("h"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    schema = spark.read.parquet(src).schema

    def replay():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def finals(name):
        fin = {}
        for r in spark.sql(f"SELECT * FROM {name}").collect():
            k = (r["key"], r["window_start"])
            fin[k] = max(fin.get(k, 0), r["estimate"])
        return fin

    def run(df, name):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option(
                "checkpointLocation", str(tmp_path_factory.mktemp(f"ck_{name}"))
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), name
        return finals(name)

    single = run(
        streaming_windowed_hll(
            replay(), "ts", "h", "2 hours", keys=["key"],
            watermark_delay="30 days", slide_duration="1 hour",
        ),
        "slide_single",
    )

    exact = {
        (r["key"], r["w"]): r["nd"]
        for r in spark.read.parquet(src)
        .select("key", F.window("ts", "2 hours", "1 hour")["start"].alias("w"), "h")
        .groupBy("key", "w")
        .agg(F.countDistinct("h").alias("nd"))
        .collect()
    }
    # 12h of events -> 13 sliding starts per key (half-open overlap)
    assert set(single) == set(exact) and len(exact) == 4 * 13
    for k, nd in exact.items():
        assert abs(single[k] / nd - 1.0) < 0.05, (k, single[k], nd)

    stg = str(tmp_path_factory.mktemp("slide_stg")) + "/s"
    q1 = prereduce_windowed_hashes(
        replay(), "ts", "h", "2 hours", stg,
        str(tmp_path_factory.mktemp("ck_slide1")), keys=["key"],
        slide_duration="1 hour", availableNow=True,
    )
    assert q1.awaitTermination(300)
    packed = run(
        streaming_windowed_hll(
            read_packed_stream(spark, stg), "window_start", "h",
            "2 hours", keys=["key"], watermark_delay="30 days",
            packed=True,
        ),
        "slide_packed",
    )
    assert packed == single
