"""End-to-end dedup-family volume evidence at >= 10M documents.

The deleted dedup micro-bench (``scripts/bench_dedup_vec.py``, in git
history; results in BENCH.md) measured fingerprint throughput on ~100k
docs; this script runs the FULL pipelines —
signatures/fingerprints -> banding -> candidate pairs -> clusters — on
a generated 10M-page Common-Crawl-style corpus with 1M planted exact
duplicates (ids 0..1M regenerate deterministically identical text under
a shifted doc_id), and prints ONE JSON line on stdout with per-stage
seconds, docs/s, candidate-pair counts, and cluster counts (progress
goes to stderr).  Numbers land in BENCH.md's "Dedup at volume" table.

Corpus caches in /tmp/tdigest_dedup/docs_<n> (one dir per size).

Usage:  python scripts/bench_dedup_scale.py [n_docs] [cpus] [stage ...]
        n_docs counts UNIQUE docs; 10% duplicates are added on top.
        Stages: minhash simhash substring — default "minhash simhash".
        substring (exact-substring span removal) runs ONLY the stages
        you name, so `... 1000000 32 substring` measures it alone: its
        gram explode is ~140× the row count and typically runs at a
        smaller n_docs than the fingerprint pipelines.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tdigest_spark.spark.session import get_spark, warm_workers

CACHE = "/tmp/tdigest_dedup"


def ensure_corpus(spark, n_unique: int) -> str:
    """(doc_id, text) parquet: n_unique generated pages + n_unique/10
    exact duplicates (same generator ids => identical text).  The cache
    path carries n_unique, so a smaller substring-mode run does not
    clobber a previously generated full-size corpus."""
    path = f"{CACHE}/docs_{n_unique}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from tdigest_spark.pages import generate_pages

    n_dup = n_unique // 10
    uniq = generate_pages(spark, n_unique, partitions=96).select(
        F.monotonically_increasing_id().alias("__mono__"), "text"
    )
    # deterministic duplicate block: the generator derives text purely
    # from the range id, so re-generating ids [0, n_dup) yields
    # byte-identical text under fresh doc_ids
    dups = generate_pages(spark, n_dup, partitions=8).select(
        (F.monotonically_increasing_id() + (1 << 40)).alias("__mono__"), "text"
    )
    (
        uniq.unionByName(dups)
        .select(F.xxhash64("__mono__").alias("doc_id"), "text")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def main() -> None:
    n_unique = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    stages = set(sys.argv[3:]) or {"minhash", "simhash"}
    unknown = stages - {"minhash", "simhash", "substring"}
    if unknown:
        raise SystemExit(f"unknown stage(s): {sorted(unknown)}")
    spark = get_spark("dedup-scale", cores=cpus, shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    warm_workers(spark)

    from tdigest_spark.dedup import (
        dup_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
        simhash_fingerprints,
    )

    path = ensure_corpus(spark, n_unique)
    docs = spark.read.parquet(path)
    n_docs = docs.count()
    out: dict = {"n_docs": n_docs, "cpus": cpus}

    run_minhash = "minhash" in stages
    run_simhash = "simhash" in stages

    if run_minhash:
        # ---- MinHash + LSH + clustering ---------------------------------
        t0 = time.time()
        sigs_path = f"{CACHE}/minhash_sigs"
        # word shingles: the web-dedup configuration — char grams over the
        # generator's small shared vocabulary would make every pair of long
        # docs near-identical (Jaccard -> 1) and the bench would measure a
        # quadratic pair flood instead of pipeline throughput
        minhash_signatures(
            docs, "doc_id", "text", num_hashes=128, shingle_k=5,
            shingle_unit="word",
        ).write.mode("overwrite").parquet(sigs_path)
        t_sig = time.time() - t0
        sigs = spark.read.parquet(sigs_path)

        t0 = time.time()
        pairs_path = f"{CACHE}/minhash_pairs"
        lsh_candidate_pairs(sigs, "doc_id", bands=32, num_hashes=128) \
            .write.mode("overwrite").parquet(pairs_path)
        t_band = time.time() - t0
        pairs = spark.read.parquet(pairs_path)
        n_pairs = pairs.count()

        t0 = time.time()
        clusters = dup_clusters(pairs)
        n_clustered = clusters.count()
        n_clusters = clusters.select("cluster_id").distinct().count()
        t_cluster = time.time() - t0
        out["minhash"] = {
            "signatures_sec": round(t_sig, 1),
            "signatures_docs_per_sec": int(n_docs / t_sig),
            "banding_sec": round(t_band, 1),
            "candidate_pairs": n_pairs,
            "cluster_sec": round(t_cluster, 1),
            "docs_in_clusters": n_clustered,
            "n_clusters": n_clusters,
            "end_to_end_sec": round(t_sig + t_band + t_cluster, 1),
            "end_to_end_docs_per_sec": int(n_docs / (t_sig + t_band + t_cluster)),
        }
        print(
            json.dumps({"minhash_done": out["minhash"]}),
            file=sys.stderr,
            flush=True,
        )

    if run_simhash:
        # ---- SimHash + chunk banding ------------------------------------
        t0 = time.time()
        fp_path = f"{CACHE}/simhash_fps"
        simhash_fingerprints(docs, "doc_id", "text") \
            .write.mode("overwrite").parquet(fp_path)
        t_fp = time.time() - t0
        fps = spark.read.parquet(fp_path)

        # exact-fingerprint dedup groups: the generator's shared small
        # vocabulary makes Hamming-ball banding degenerate (every bucket
        # trips the guardrail cap), so the volume measurement here is
        # fingerprint throughput + recovery of the planted identical docs
        # (identical text => identical simhash)
        t0 = time.time()
        groups = (
            fps.groupBy("simhash")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > 1)
            .agg(
                F.count("*").alias("dup_groups"),
                F.sum(F.col("n") - 1).alias("removable_docs"),
            )
            .collect()[0]
        )
        t_group = time.time() - t0
        out["simhash"] = {
            "fingerprints_sec": round(t_fp, 1),
            "fingerprints_docs_per_sec": int(n_docs / t_fp),
            "exact_group_sec": round(t_group, 1),
            "dup_groups": groups["dup_groups"],
            "removable_docs": int(groups["removable_docs"]),
            "end_to_end_sec": round(t_fp + t_group, 1),
        }

    # ---- exact-substring span removal (optional: heavy explode) -----
    if "substring" in stages:
        from tdigest_spark.dedup import remove_duplicate_ngrams

        t0 = time.time()
        handle: list = []
        cleaned = remove_duplicate_ngrams(
            docs, "doc_id", "text", n=5, persist_handle=handle
        )
        stats = cleaned.agg(
            F.count("*").alias("n_docs_out"),
            F.sum("n_tokens").alias("tokens_in"),
            F.sum("n_removed").alias("tokens_removed"),
        ).collect()[0]
        for h in handle:  # release the starts cache now, not at GC time
            h.unpersist()
        t_sub = time.time() - t0
        out["substring_dedup"] = {
            "sec": round(t_sub, 1),
            "docs_per_sec": int(n_docs / t_sub),
            "n_docs_out": stats["n_docs_out"],
            "tokens_in": int(stats["tokens_in"]),
            "tokens_removed": int(stats["tokens_removed"]),
            "removed_frac": round(
                stats["tokens_removed"] / (stats["tokens_in"] or 1), 4
            ),
        }
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
