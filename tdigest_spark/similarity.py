"""Approximate nearest-neighbor search over embedding columns.

* ``cosine_topk``            — exact brute-force baseline: the (small)
  query set is broadcast as a NumPy matrix; every partition computes a
  block matmul over its Arrow batches and emits only its local top-k,
  which a final merge reduces.  Shuffle volume is O(#partitions·q·k),
  never O(n).
* ``cosine_pairs_above``     — all-pairs similarity join above a
  threshold for moderate corpus sizes (exact verifier for near-dup).
* ``rp_lsh_buckets`` / ``rp_lsh_candidate_pairs`` — random-hyperplane LSH: L
  independent b-bit sign buckets per vector; candidates share a bucket
  in ≥1 table.  This is the 100 TB path: bucketing is a narrow map, the
  candidate join is an equi-join on (table, bucket).
"""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_AUTO_BUCKETED_SCAN = "spark.sql.sources.bucketing.autoBucketedScan.enabled"


@contextlib.contextmanager
def bucket_pruning_enforced(spark):
    """Pin the conf that keeps bucket pruning alive for probe scans,
    restoring the caller's setting on exit.

    Spark's ``DisableUnnecessaryBucketedScan`` rule (on by default via
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=true``)
    drops the bucketed scan whenever no downstream operator consumes
    the bucketing — and a bare ``filter(list_id.isin(...))`` followed
    by ``mapInPandas`` is exactly that shape.  Dropping the bucketed
    scan also drops bucket PRUNING, so on a vanilla session the IVF
    probe silently reads the ENTIRE index table (at 10⁹ vectors: a
    full-corpus scan per probe batch).  The conf is a runtime-settable
    SQL conf; pinning it around plan+execute makes pruning a property
    of the library, not of who built the session."""
    prev = spark.conf.get(_AUTO_BUCKETED_SCAN, None)
    spark.conf.set(_AUTO_BUCKETED_SCAN, "false")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_AUTO_BUCKETED_SCAN)
        else:
            spark.conf.set(_AUTO_BUCKETED_SCAN, prev)


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _to_matrix(series: pd.Series) -> np.ndarray:
    return np.array([np.asarray(v, dtype=np.float64) for v in series])


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    ``queries``: [(query_id, vector), ...] — broadcast to every task.
    Two-phase: per-partition block matmul + local top-k, then a global
    merge per query id.
    """
    spark = df.sparkSession
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    bc = spark.sparkContext.broadcast((qids, qmat))

    partial_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    def local_topk(batches):
        qids_, qmat_ = bc.value
        best_sims = np.full((len(qids_), k), -np.inf)
        best_ids = np.full((len(qids_), k), -1, dtype=np.int64)
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = _normalize(_to_matrix(pdf[vec_col]))
            sims = qmat_ @ mat.T  # (q, batch)
            # merge batch into running top-k per query, tie-breaking
            # equal sims by ascending neighbor id so the selected set
            # cannot depend on partition layout / batch order (the
            # r04 driver flip: near-tie boundaries flipped with
            # parallelism)
            all_sims = np.concatenate([best_sims, sims], axis=1)
            all_ids = np.concatenate(
                [best_ids, np.broadcast_to(ids, (len(qids_), ids.size))], axis=1
            )
            # best_sims starts at width k (-inf/-1 placeholders), so the
            # concatenation is always >= k wide and slicing to k keeps
            # the placeholder semantics the final mask depends on
            # vectorized argpartition finds each row's k-th sim; when
            # exactly k entries sit at-or-above it the top-k SET is
            # unique and the partition indices are taken verbatim (no
            # per-row Python).  Only rows with a tie AT the boundary
            # (n_geq > k — the selected set would otherwise depend on
            # batch/partition order) fall back to the deterministic
            # (sim desc, id asc) lexsort; boundary ties are rare on
            # real-valued sims, so the interpreted loop runs O(ties),
            # not O(queries), per batch
            part = np.argpartition(-all_sims, k - 1, axis=1)[:, :k]
            kth = np.take_along_axis(all_sims, part, 1).min(axis=1)
            n_geq = (all_sims >= kth[:, None]).sum(axis=1)
            new_sims = np.take_along_axis(all_sims, part, 1)
            new_ids = np.take_along_axis(all_ids, part, 1)
            for qi in np.flatnonzero(n_geq > k):
                cand = np.flatnonzero(all_sims[qi] >= kth[qi])
                order = cand[
                    np.lexsort((all_ids[qi, cand], -all_sims[qi, cand]))[:k]
                ]
                new_sims[qi] = all_sims[qi, order]
                new_ids[qi] = all_ids[qi, order]
            best_sims, best_ids = new_sims, new_ids
        # unfilled slots keep sim=-inf — mask on the sims, NOT on
        # id >= 0: legitimate neighbor ids may be negative (e.g.
        # xxhash64-derived), and -1 is only the placeholder id
        mask = np.isfinite(best_sims.ravel())
        yield pd.DataFrame(
            {
                "query_id": np.repeat(qids_, k)[mask],
                "neighbor_id": best_ids.ravel()[mask],
                "sim": best_sims.ravel()[mask],
            }
        )

    partials = df.select(id_col, vec_col).mapInPandas(local_topk, partial_schema)

    result_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("rank", IntegerType()),
            StructField("sim", DoubleType()),
        ]
    )

    def global_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        # same (sim desc, id asc) tie-break as the partial phase —
        # stable mergesort so equal (sim, id) rows (duplicated across
        # partition partials) keep a deterministic order too
        pdf = pdf.sort_values(
            ["sim", "neighbor_id"], ascending=[False, True], kind="mergesort"
        ).head(k)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy(),
                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                "rank": np.arange(1, len(pdf) + 1, dtype=np.int32),
                "sim": pdf["sim"].to_numpy(),
            }
        )

    return partials.groupBy("query_id").applyInPandas(global_merge, result_schema)


def _unit_vec(vec: Column) -> Column:
    """L2-normalize an array<double> column (pure JVM expressions)."""
    norm = F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return F.transform(vec, lambda x: x / safe)


def cosine_pairs_above(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    probe_df: DataFrame | None = None,
    max_broadcast_rows: int = 100_000,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine similarity >= threshold.

    Exact verifier as a *broadcast range join*: vectors are
    L2-normalized with JVM expressions, the broadcast side is handled
    by Spark (no driver ``collect()``), and the dot product is a JVM
    ``aggregate(zip_with(...))`` — nothing leaves the executors.

    ``probe_df=None`` (self-join) is O(n²) and broadcasts the FULL
    table — a moderate-size verifier only, guarded by
    ``max_broadcast_rows`` (the count is one cheap aggregate job; the
    guard stops the quadratic path from being pointed at a huge table
    silently).  The scale path passes a bounded ``probe_df`` (same
    schema: id_col, vec_col): only the probe side is broadcast and
    cost is O(|probe| · n) — linear in the corpus.  Pairs are still
    emitted as id_a < id_b with id_a drawn from the probe side, so
    probe ids should be <= every non-probe id (e.g. a ``vec_id < S``
    sample) for full coverage of probe-involving pairs."""
    unit = df.select(
        F.col(id_col).alias("__uid__"), _unit_vec(F.col(vec_col)).alias("__uv__")
    )
    if probe_df is None:
        n = df.count()
        if n > max_broadcast_rows:
            raise ValueError(
                f"cosine_pairs_above self-join on {n} rows exceeds the "
                f"{max_broadcast_rows}-row quadratic-verifier guard; pass "
                "a bounded probe_df (sampled queries) or route through "
                "rp_lsh_candidate_pairs for the LSH scale path"
            )
        probe = unit
    else:
        probe = probe_df.select(
            F.col(id_col).alias("__uid__"),
            _unit_vec(F.col(vec_col)).alias("__uv__"),
        )
    a = probe.select(F.col("__uid__").alias("id_a"), F.col("__uv__").alias("va"))
    b = unit.select(F.col("__uid__").alias("id_b"), F.col("__uv__").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        F.broadcast(a).join(b, F.col("id_a") < F.col("id_b"))
        .filter(dot >= F.lit(float(threshold)))
        .select("id_a", "id_b")
    )


def rp_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_tables: int = 8,
    n_bits: int = 8,
    seed: int = 42,
    result_col: str = "buckets",
) -> DataFrame:
    """Random-hyperplane LSH: per vector, L sign-pattern bucket ids.
    Vectors within angle θ collide in one table with prob
    (1 - θ/π)^b per table."""
    if not 1 <= n_bits <= 32:
        # bucket id layout is sign_pattern | (table << 32): more than
        # 32 sign bits would bleed into the table tag (cross-table
        # collisions), and >=63 overflows the int64 weights outright
        raise ValueError(f"n_bits must be in [1, 32], got {n_bits}")
    if not 1 <= n_tables <= (1 << 31):
        raise ValueError(f"n_tables must be positive, got {n_tables}")
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_tables, n_bits, dim)

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField(result_col, ArrayType(LongType())),
        ]
    )

    def bucketize(batches):
        weights = 1 << np.arange(n_bits, dtype=np.int64)
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = _to_matrix(pdf[vec_col])
            out = np.empty((len(ids), n_tables), dtype=np.int64)
            for t in range(n_tables):
                signs = (mat @ planes[t].T) > 0  # (batch, bits)
                out[:, t] = (signs * weights).sum(axis=1) + (t << 32)
            yield pd.DataFrame({id_col: ids, result_col: list(out)})

    return df.select(id_col, vec_col).mapInPandas(bucketize, schema)


def ivf_centroids(
    df: DataFrame,
    vec_col: str,
    n_lists: int = 16,
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 42,
    order_col: str | None = None,
) -> np.ndarray:
    """Train an IVF coarse quantizer: deterministic Lloyd k-means on a
    driver-side sample of normalized vectors (k-means++-style farthest
    seeding from a seeded start).  Returns (n_lists, dim) float64.

    Pass ``order_col`` (an id column) whenever reproducible centroids
    matter: a bare ``limit()`` sample follows partition/scheduling
    order, so the rows feeding the seeded RNG — and hence the trained
    centroids — would vary across environments.  With ``order_col`` the
    sample is a TakeOrdered (sort pushed into the scan, only
    ``sample_rows`` rows reach the driver) and training is bit-stable
    for a given corpus."""
    X = _collect_sample(df, vec_col, order_col, sample_rows)
    C = _farthest_seed(X, n_lists, seed)
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(n_lists):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C = _normalize(C)
    return C


def _collect_sample(
    df: DataFrame, vec_col: str, order_col: str | None, sample_rows: int
) -> np.ndarray:
    """Driver-side normalized sample matrix for centroid seeding —
    TakeOrdered when ``order_col`` is given (bit-stable across
    partition layouts), plain limit otherwise."""
    sel = df.select(*([order_col] if order_col is not None else []), vec_col)
    if order_col is not None:
        sel = sel.orderBy(order_col)
    sample = sel.limit(sample_rows).collect()
    return _normalize(np.array([r[vec_col] for r in sample], dtype=np.float64))


def _farthest_seed(X: np.ndarray, n_lists: int, seed: int) -> np.ndarray:
    """Deterministic k-means++-style farthest-point seeding from a
    seeded random start (cosine distance on normalized rows)."""
    rng = np.random.RandomState(seed)
    cents = [X[rng.randint(len(X))]]
    best = X @ cents[0]  # running max similarity to any chosen seed
    for _ in range(n_lists - 1):
        nxt = int(np.argmin(best))  # farthest = least similar
        cents.append(X[nxt])
        np.maximum(best, X @ cents[-1], out=best)
    return np.stack(cents)


def ivf_centroids_distributed(
    df: DataFrame,
    vec_col: str,
    n_lists: int = 256,
    iters: int = 8,
    seed: int = 42,
    order_col: str | None = None,
    init_sample_rows: int | None = None,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Train an IVF coarse quantizer with DISTRIBUTED Lloyd iterations
    — the path past ``ivf_centroids``'s driver-side cap.  The driver
    Lloyd trains on a ≤20 k-row collected sample, which cannot separate
    n_lists ≳ a few hundred; 10⁹+-vector corpora want n_lists ~ √n
    (10³-10⁴).  Here only the SEEDING sample is collected
    (``init_sample_rows``, default ``max(4·n_lists, 8192)`` rows); each
    Lloyd iteration is a full Spark pass: an Arrow-batched partial pass
    accumulates per-partition (list_id, count, sum-vector) partials —
    at most ``partitions × n_lists`` rows of ``dim`` doubles cross the
    shuffle, never vectors — which a per-list ``applyInPandas`` merge
    reduces so the driver collects exactly ``n_lists`` rows per
    iteration regardless of corpus size or partition count.

    ``sample_fraction`` switches iterations to seeded mini-batch
    (``df.sample``) for corpora where even one full pass per iteration
    is too costly.  Deterministic for a fixed corpus + partition
    layout: partials are summed in partition-id order and the merge
    sorts by partition id, so float accumulation order is stable.
    Empty lists keep their previous centroid.  Returns
    ``(n_lists, dim)`` float64, rows L2-normalized."""
    spark = df.sparkSession
    if init_sample_rows is None:
        init_sample_rows = max(4 * n_lists, 8192)
    X0 = _collect_sample(df, vec_col, order_col, init_sample_rows)
    if len(X0) < n_lists:
        raise ValueError(
            f"seeding sample has {len(X0)} rows < n_lists={n_lists}; "
            "raise init_sample_rows or lower n_lists"
        )
    C = _farthest_seed(X0, n_lists, seed)
    dim = C.shape[1]

    partial_schema = StructType(
        [
            StructField("pid", IntegerType()),
            StructField("list_id", IntegerType()),
            StructField("cnt", LongType()),
            StructField("vsum", ArrayType(DoubleType())),
        ]
    )
    merged_schema = StructType(
        [
            StructField("list_id", IntegerType()),
            StructField("cnt", LongType()),
            StructField("vsum", ArrayType(DoubleType())),
        ]
    )

    def merge_lists(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pid", kind="mergesort")
        vs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["vsum"]])
        return pd.DataFrame(
            {
                "list_id": [int(pdf["list_id"].iloc[0])],
                "cnt": [int(pdf["cnt"].sum())],
                "vsum": [vs.sum(axis=0)],
            }
        )

    base = df.select(vec_col)
    for it in range(iters):
        data = (
            base.sample(fraction=sample_fraction, seed=seed + it)
            if sample_fraction is not None
            else base
        )
        data = data.withColumn("__pid__", F.spark_partition_id())
        bc = spark.sparkContext.broadcast(C)

        def partials(batches):
            C_ = bc.value
            sums = np.zeros((n_lists, dim))
            counts = np.zeros(n_lists, dtype=np.int64)
            pid = 0
            for pdf in batches:
                if not len(pdf):
                    continue
                pid = int(pdf["__pid__"].iloc[0])
                mat = _normalize(_to_matrix(pdf[vec_col]))
                assign = np.argmax(mat @ C_.T, axis=1)
                # per-dimension weighted bincount beats np.add.at's
                # unbuffered element loop ~10× on wide batches
                for d in range(dim):
                    sums[:, d] += np.bincount(
                        assign, weights=mat[:, d], minlength=n_lists
                    )
                counts += np.bincount(assign, minlength=n_lists)
            live = np.flatnonzero(counts)
            if len(live):
                yield pd.DataFrame(
                    {
                        "pid": np.full(len(live), pid, dtype=np.int32),
                        "list_id": live.astype(np.int32),
                        "cnt": counts[live],
                        "vsum": list(sums[live]),
                    }
                )

        rows = (
            data.mapInPandas(partials, partial_schema)
            .groupBy("list_id")
            .applyInPandas(merge_lists, merged_schema)
            .collect()
        )
        C_new = C.copy()  # empty lists keep their previous centroid
        for r in rows:
            if r["cnt"]:
                C_new[r["list_id"]] = (
                    np.asarray(r["vsum"], dtype=np.float64) / r["cnt"]
                )
        C = _normalize(C_new)
        bc.destroy()
    return C


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    result_col: str = "list_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest IVF list (narrow map).
    ``keep_vec=True`` carries the vector column through (for
    materializing a bucketed index in one pass, no join-back)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    fields = [StructField(id_col, LongType())]
    if keep_vec:
        vec_field = [f for f in df.schema.fields if f.name == vec_col][0]
        fields.append(vec_field)
    fields.append(StructField(result_col, IntegerType()))
    schema = StructType(fields)

    def assign(batches):
        C = bc.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            mat = _normalize(_to_matrix(pdf[vec_col]))
            lists = np.argmax(mat @ C.T, axis=1).astype(np.int32)
            out = {id_col: ids}
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            out[result_col] = lists
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(assign, schema)


def ivf_write_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray,
    table_name: str,
    n_buckets: int = 16,
    list_col: str = "list_id",
) -> None:
    """Materialize the IVF index as a table BUCKETED by ``list_id``
    (one assignment pass, no join-back).  At query time Spark's bucket
    pruning turns an ``isin(probe_lists)`` filter into a scan of only
    the probed buckets (``SelectedBucketsCount`` in the plan), and
    joins/groupBys on ``list_id`` skip the shuffle on this side — the
    100 TB layout for repeated ANN queries over a stored corpus."""
    from tdigest_spark.tables import write_bucketed

    assigned = ivf_assign(
        df, id_col, vec_col, centroids, result_col=list_col, keep_vec=True
    )
    write_bucketed(assigned, table_name, [list_col], n_buckets=n_buckets)


def ivf_topk_bucketed(
    spark,
    table_name: str,
    id_col: str,
    vec_col: str,
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    list_col: str = "list_id",
) -> DataFrame:
    """IVF-probed top-k over a stored bucketed index
    (``ivf_write_index``): the probe-list filter prunes the scan to the
    probed buckets — no assignment pass, no shuffle — and each corpus
    row is scored ONLY against the queries probing ITS list, not the
    whole batch.  That per-list grouping is what makes a batched probe
    cheaper than brute force: total dot products are
    Σ_q (n_probe/n_lists)·|corpus| instead of |queries|·|union scan|
    (a 100-query batch at n_probe=16/256 lists unions ~60% of the
    buckets, so query-oblivious scoring would do ~0.6× the brute-force
    work per query — measured SLOWER than exact at 1M vectors; the
    grouped form is 5.6× faster than exact, recall@10 = 1.0).

    The result is returned materialized and lineage-free
    (``_checkpoint_eager``).  Under dynamic allocation with a
    SparkContext checkpoint dir it is a reliable ``checkpoint``.
    Otherwise it is a ``localCheckpoint``, whose blocks live unreplicated
    on executors: if one is lost or decommissioned (dynamic allocation
    without a checkpoint dir), actions on the returned frame fail
    instead of recomputing it."""
    qids, qmat, probes = _query_probes(queries, centroids, n_probe)
    probe_lists = sorted({int(v) for row in probes for v in row})
    # per-list query groups: list_id -> (row indices into qids/qmat)
    by_list = {
        lid: np.where((probes == lid).any(axis=1))[0] for lid in probe_lists
    }
    bc = spark.sparkContext.broadcast((qids, qmat, by_list))

    partial_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("sim", DoubleType()),
        ]
    )

    def local_topk(batches):
        qids_, qmat_, by_list_ = bc.value
        best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            lists = pdf[list_col].to_numpy(dtype=np.int64)
            mat = _normalize(_to_matrix(pdf[vec_col]))
            # bucketed reads deliver one (or few) lists per task — the
            # per-list loop runs O(1) times per batch
            for lid in np.unique(lists):
                qsel = by_list_.get(int(lid))
                if qsel is None:
                    continue
                rows = lists == lid
                rids = ids[rows]
                sims = qmat_[qsel] @ mat[rows].T  # (q_list, rows)
                for qi, srow in zip(qsel, sims):
                    o = np.lexsort((rids, -srow))[:k]
                    cs, ci = srow[o], rids[o]
                    if qi in best:
                        ps, pi = best[qi]
                        cs = np.concatenate([ps, cs])
                        ci = np.concatenate([pi, ci])
                        o2 = np.lexsort((ci, -cs))[:k]
                        cs, ci = cs[o2], ci[o2]
                    best[int(qi)] = (cs, ci)
        if best:
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(
                        [np.full(s.size, qids_[qi]) for qi, (s, _) in best.items()]
                    ),
                    "neighbor_id": np.concatenate(
                        [i for _, (_, i) in best.items()]
                    ),
                    "sim": np.concatenate([s for _, (s, _) in best.items()]),
                }
            )

    corpus = (
        spark.table(table_name)
        .filter(F.col(list_col).isin(probe_lists))
        .select(id_col, vec_col, list_col)
    )
    # a bucketed-table scan yields one task per selected bucket; with
    # many probed lists that is a fleet of tiny Python-worker tasks
    # whose per-task overhead dominates the probe (measured 157 tasks
    # = ~3 s of pure overhead at 1M vectors).  Coalesce (narrow, no
    # shuffle) to the executor-core count; batches then carry several
    # lists each, which local_topk's per-list grouping handles.
    target = spark.sparkContext.defaultParallelism
    if len(probe_lists) > target:
        corpus = corpus.coalesce(target)
    partials = corpus.mapInPandas(local_topk, partial_schema)

    result_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("rank", IntegerType()),
            StructField("sim", DoubleType()),
        ]
    )

    def global_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["sim", "neighbor_id"], ascending=[False, True], kind="mergesort"
        ).head(k)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy(),
                "neighbor_id": pdf["neighbor_id"].to_numpy(),
                "rank": np.arange(1, len(pdf) + 1, dtype=np.int32),
                "sim": pdf["sim"].to_numpy(),
            }
        )

    out = partials.groupBy("query_id").applyInPandas(global_merge, result_schema)
    # Execute the probe NOW, while bucket pruning is pinned
    # (bucket_pruning_enforced): the scan's physical planning happens at
    # action time, so a lazily-returned frame would plan under whatever
    # conf the CALLER's session carries — on a vanilla session the
    # auto-bucketed-scan rule would silently drop pruning and full-scan
    # the index.  An eager checkpoint SEVERS the lineage, so unlike
    # persist+count a downstream recomputation (cache eviction, lost
    # executor with replication) can never re-plan the scan unpruned
    # and full-scan a 10^9-vector index; the materialized result is
    # bounded (≤ |queries|·k rows) and needs no caller unpersist.
    with bucket_pruning_enforced(spark):
        out = _checkpoint_eager(out, spark.sparkContext)
    return out


def _checkpoint_eager(df: DataFrame, sc) -> DataFrame:
    """Materialize ``df`` and cut its lineage: a reliable ``checkpoint``
    when ``spark.dynamicAllocation.enabled`` and ``sc`` has a checkpoint
    dir (executors come and go, taking ``localCheckpoint`` blocks with
    them), else a ``localCheckpoint`` (no checkpoint-dir write)."""
    dynamic = sc.getConf().get("spark.dynamicAllocation.enabled", "false")
    if dynamic.strip().lower() == "true" and sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _query_probes(
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray,
    n_probe: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(query ids, normalized query matrix, per-query ``n_probe``
    nearest inverted lists) — the ONE probe-selection computation
    behind ``ivf_topk_bucketed`` and ``ivf_probe_lists``, so a plan
    assertion on the probed buckets always checks the same scan the
    search executes."""
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = _normalize(np.array([q[1] for q in queries], dtype=np.float64))
    probes = np.argsort(-(qmat @ centroids.T), axis=1)[:, :n_probe]
    return qids, qmat, probes


def ivf_probe_lists(
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray,
    n_probe: int,
) -> list[int]:
    """The union of every query's ``n_probe`` nearest inverted lists —
    the single source of probe selection for ``ivf_topk`` /
    ``ivf_topk_bucketed`` (and for plan assertions that must check the
    SAME scan the search runs); delegates to ``_query_probes``."""
    _, _, probes = _query_probes(queries, centroids, n_probe)
    return sorted({int(v) for row in probes for v in row})


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    queries: list[tuple[int, list[float]]],
    centroids: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-probed top-k: each query searches only its ``n_probe``
    nearest inverted lists.  At cluster scale the corpus is stored
    partitioned/bucketed by list_id so the scan prunes to the probed
    lists; here the filter is applied before the brute-force pass."""
    probe_lists = ivf_probe_lists(queries, centroids, n_probe)

    assigned = ivf_assign(df, id_col, vec_col, centroids)
    restricted = (
        df.join(assigned, id_col)
        .filter(F.col("list_id").isin(probe_lists))
        .select(id_col, vec_col)
    )
    return cosine_topk(restricted, id_col, vec_col, queries, k=k)


def rp_lsh_candidate_pairs(
    bucket_df: DataFrame, id_col: str, bucket_col: str = "buckets",
    max_bucket: int | None = 50_000,
) -> DataFrame:
    """Candidate pairs = vectors sharing any (table, bucket) key.
    ``max_bucket`` drops degenerate buckets (see lsh_candidate_pairs)."""
    from tdigest_spark.dedup import _bucket_pairs

    exploded = bucket_df.select(
        F.col(id_col), F.explode(F.col(bucket_col)).alias("bucket")
    )
    return (
        _bucket_pairs(exploded, ["bucket"], id_col, max_bucket=max_bucket)
        .select("id_a", "id_b")
        .distinct()
    )
