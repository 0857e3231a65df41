"""End-to-end Spark tests for HLL / count-min / KLL / Bloom aggregates."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tdigest_spark.kernel.kll import KLL
from tdigest_spark.kernel.topk import SpaceSaving
from tdigest_spark.spark import arrow_agg
from tdigest_spark.spark.sketches import (
    bloom_filter,
    bloom_might_contain,
    countmin_estimate,
    countmin_sketch,
    countmin_total,
    hll_cardinality,
    hll_count_distinct,
    hll_sketch,
    hll_union_agg,
    kll_quantile,
    kll_rank,
    kll_sketch,
)
from tdigest_spark.spark.topk_agg import reservoir_sample_hashes, topk, topk_sketch


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF_SMALL}/orders.parquet").cache()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_SMALL}/events.parquet").cache()


def test_hll_count_distinct_grouped(orders):
    est = {
        r["o_orderstatus"]: r["approx_distinct"]
        for r in hll_count_distinct(
            orders, "o_custkey", keys=["o_orderstatus"]
        ).collect()
    }
    exact = {
        r["o_orderstatus"]: r["d"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] / exact[k] - 1) < 0.05, (k, est[k], exact[k])


def test_hll_sketch_rollup(orders):
    per_status = hll_sketch(orders, "o_custkey", keys=["o_orderstatus"])
    rolled = hll_union_agg(per_status, "hll")
    est = rolled.select(hll_cardinality("hll").alias("c")).collect()[0]["c"]
    exact = orders.select(F.countDistinct("o_custkey")).collect()[0][0]
    assert abs(est / exact - 1) < 0.05


def test_countmin_frequencies(events):
    cm = countmin_sketch(events, "event_type").collect()[0]["countmin"]
    exact = {
        r["event_type"]: r["c"]
        for r in events.groupBy("event_type").agg(F.count("*").alias("c")).collect()
    }
    spark = events.sparkSession
    probes = spark.createDataFrame(
        [(t,) for t in exact], ["event_type"]
    ).withColumn("cm", F.lit(bytes(cm)))
    res = probes.select(
        "event_type",
        countmin_estimate(F.col("cm"), F.col("event_type")).alias("est"),
        countmin_total(F.col("cm")).alias("total"),
    ).collect()
    n = sum(exact.values())
    for r in res:
        t = exact[r["event_type"]]
        assert r["est"] >= t
        assert r["est"] <= t + 0.01 * n  # width 2048 → eps*N ≈ 0.13% N
        assert r["total"] == n


def test_bloom_membership(orders, spark):
    bl = bloom_filter(orders, "o_custkey").collect()[0]["bloom"]
    members = orders.select("o_custkey").distinct()
    res = members.withColumn("bf", F.lit(bytes(bl))).select(
        bloom_might_contain(F.col("bf"), F.col("o_custkey")).alias("hit")
    )
    assert res.filter(~F.col("hit")).count() == 0  # no false negatives
    # non-members: shifted keys far outside the domain
    non = members.select((F.col("o_custkey") + 10_000_000).alias("k")).withColumn(
        "bf", F.lit(bytes(bl))
    )
    fp = non.select(bloom_might_contain(F.col("bf"), F.col("k")).alias("hit"))
    fpr = fp.filter(F.col("hit")).count() / max(fp.count(), 1)
    assert fpr < 0.05


def test_kll_quantile_grouped(events):
    est = {
        r["event_type"]: r["quantile"]
        for r in kll_quantile(
            events.select("event_type", "value"), "value", 0.5, keys=["event_type"]
        ).collect()
    }
    pdf = events.select("event_type", "value").toPandas()
    for t, sub in pdf.groupby("event_type"):
        xs = np.sort(sub["value"].to_numpy())
        rank = np.searchsorted(xs, est[t], side="right") / len(xs)
        assert abs(rank - 0.5) < 0.03, (t, est[t], rank)


def test_kll_sketch_and_rank(events):
    sk = kll_sketch(events.select("value"), "value")
    med_rank = sk.select(kll_rank("kll", 15.0).alias("r")).collect()[0]["r"]
    pdf = events.select("value").toPandas()["value"].to_numpy()
    exact = (pdf <= 15.0).mean()
    assert abs(med_rank - exact) < 0.03


# ----------------------------------------------------------------------
# regression: nullable probes must not corrupt int64 hashes via float64
# ----------------------------------------------------------------------
def test_bloom_no_false_negatives_with_null_probe_in_batch(spark):
    """A NULL probe in the same pandas batch used to flip the whole
    hash series to float64, rounding 63-bit hashes and producing false
    negatives."""
    vals = [f"member-{i}" for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    blm = bloom_filter(df, "v", m=1 << 16, k=5).collect()[0]["bloom"]
    probes = [(bytes(blm), v) for v in vals] + [(bytes(blm), None)]
    pdf = spark.createDataFrame(probes, ["bloom", "probe"]).coalesce(1)
    got = pdf.select(
        "probe", bloom_might_contain(F.col("bloom"), F.col("probe")).alias("hit")
    ).collect()
    by = {r["probe"]: r["hit"] for r in got}
    assert by[None] is None
    misses = [v for v in vals if by[v] is not True]
    assert misses == [], f"false negatives: {misses[:5]}"


def test_countmin_overestimates_with_null_probe_in_batch(spark):
    rows = [("k%d" % (i % 50),) for i in range(5000)]
    df = spark.createDataFrame(rows, ["v"])
    cm = countmin_sketch(df, "v").collect()[0]["countmin"]
    probes = [(bytes(cm), "k7"), (bytes(cm), None), (bytes(cm), "k7")]
    pdf = spark.createDataFrame(probes, ["cm", "probe"]).coalesce(1)
    got = [
        r["est"]
        for r in pdf.select(
            countmin_estimate(F.col("cm"), F.col("probe")).alias("est")
        ).collect()
    ]
    assert got[1] is None
    assert got[0] == got[2] and got[0] >= 100  # est >= true count (100)


def test_kll_quantile_salted(events):
    """salt= used to raise 'salt requires merge_bytes' at plan time."""
    plain = {
        r["event_type"]: r["quantile"]
        for r in kll_quantile(events, "value", 0.5, keys=["event_type"]).collect()
    }
    salted = {
        r["event_type"]: r["quantile"]
        for r in kll_quantile(
            events, "value", 0.5, keys=["event_type"], salt=4
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert abs(plain[k] - salted[k]) <= 0.1 * max(1.0, abs(plain[k]))


def test_cosine_topk_negative_ids(spark):
    """Corpus ids may be negative (xxhash64-derived) — the unfilled-slot
    mask must not drop them."""
    from tdigest_spark.similarity import cosine_topk

    rows = [
        (-5, [1.0, 0.0]),
        (-4, [0.9, 0.1]),
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    res = cosine_topk(df, "vec_id", "embedding", [(100, [1.0, 0.0])], k=2).collect()
    got = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert got == [-5, -4]


def test_rp_lsh_buckets_rejects_bad_n_bits(spark):
    from tdigest_spark.similarity import rp_lsh_buckets

    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="n_bits"):
        rp_lsh_buckets(df, "vec_id", "embedding", dim=2, n_bits=33)
    with pytest.raises(ValueError, match="n_bits"):
        rp_lsh_buckets(df, "vec_id", "embedding", dim=2, n_bits=0)


def test_reservoir_negative_seed():
    from tdigest_spark.kernel.reservoir import Reservoir

    r = Reservoir(10, seed=-1)
    r.add_hashes(np.arange(100, dtype=np.int64))
    assert r.sample_hashes().size == 10
    back = Reservoir.from_bytes(r.to_bytes())
    assert np.array_equal(back.sample_hashes(), r.sample_hashes())


# ----------------------------------------------------------------------
# merge rounds: every family merges, so salt and the ungrouped fan-in
# rounds hold for all of them
# ----------------------------------------------------------------------
class _Near(tuple):
    """(n, estimate) of a KLL merge, which depends on merge order: equal
    n, estimates within test_kll_quantile_salted's tolerance."""

    def __eq__(self, other):
        return self[0] == other[0] and abs(self[1] - other[1]) <= 0.1 * max(1.0, abs(self[1]))


def _kll_n_median(r):
    s = KLL.from_bytes(bytes(r["kll"]))
    return _Near((s.n, s.quantile(0.5)))


# name -> (builder, takes salt=, what to compare of a row).  Rows are
# compared whole, byte for byte, unless a reader is given: KLL results
# are compared _Near, and a SpaceSaving blob lists its items in merge
# order (its counts are exact below capacity, as here).
_MERGE_FAMILIES = {
    "hll_sketch": (lambda df, **kw: hll_sketch(df, "user_id", p=10, **kw), True, None),
    "hll_count_distinct":
        (lambda df, **kw: hll_count_distinct(df, "user_id", p=10, **kw), True, None),
    "hll_union_agg": (
        lambda df, **kw: hll_union_agg(
            hll_sketch(df, "user_id", keys=["event_type", "event_id"], p=10), "hll", **kw
        ),
        False, None,
    ),
    "countmin_sketch":
        (lambda df, **kw: countmin_sketch(df, "user_id", width=64, depth=3, **kw), True, None),
    "bloom_filter":
        (lambda df, **kw: bloom_filter(df, "user_id", m=1 << 12, k=3, **kw), True, None),
    "kll_sketch": (lambda df, **kw: kll_sketch(df, "value", **kw), True, _kll_n_median),
    "kll_quantile": (
        lambda df, **kw: kll_quantile(df, "value", 0.5, **kw), True,
        lambda r: _Near((None, r["quantile"])),
    ),
    "topk_sketch": (
        lambda df, **kw: topk_sketch(df, "event_type", m=64, **kw), True,
        lambda r: SpaceSaving.from_bytes(bytes(r["topk"])).counts,
    ),
    "topk": (lambda df, **kw: topk(df, "event_type", 3, m=64, **kw), True, None),
    "reservoir_sample_hashes":
        (lambda df, **kw: reservoir_sample_hashes(df, "user_id", 16, **kw), False, None),
}


def _read(df, keys, read):
    """(group key, compared value) per row, in a stable order."""
    out = [(tuple(r[k] for k in keys), read(r) if read else tuple(r)) for r in df.collect()]
    return sorted(out, key=lambda kv: repr(kv[0] if read else kv))


@pytest.mark.parametrize("name", list(_MERGE_FAMILIES))
def test_merge_rounds_match_plain_plan(events, monkeypatch, name):
    """Salted (salt=4, grouped) and ungrouped with bounded fan-in
    rounds (MERGE_FANOUT=2 over a Catalyst input of 3 partitions),
    each against the plain plan of the same input."""
    build, takes_salt, read = _MERGE_FAMILIES[name]
    df = events.repartition(3)

    def exchanges(out):
        return out._jdf.queryExecution().executedPlan().toString().count("Exchange")

    if takes_salt:
        plain = build(df, keys=["event_type"])
        salted = build(df, keys=["event_type"], salt=4)
        assert exchanges(salted) > exchanges(plain)
        assert _read(plain, ["event_type"], read) == _read(salted, ["event_type"], read)
    plain = build(df)
    monkeypatch.setattr(arrow_agg, "MERGE_FANOUT", 2)
    fanned = build(df)
    assert exchanges(fanned) > exchanges(plain)
    assert _read(plain, [], read) == _read(fanned, [], read)
