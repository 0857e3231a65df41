"""Dump .explain('formatted') for every bench query into plan files.

Usage: python scripts/dump_plans.py <outdir> <suffix>
e.g.   python scripts/dump_plans.py plans/r07 after
"""
from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))


def main(outdir: str, suffix: str) -> None:
    from pyspark.sql import functions as F

    from tdigest_spark.spark.session import get_spark
    from tdigest_spark.spark.tdigest_agg import (
        tdigest,
        tdigest_avg,
        tdigest_percentile,
        tdigest_percentile_digests,
        tdigest_percentile_of,
        tdigest_union_agg,
    )

    spark = get_spark("dump-plans", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_returnflag", "l_linestatus", "l_extendedprice", "l_quantity"
    )
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("lang", F.col("n_chars").cast("double").alias("n_chars"))
    )
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_type", "value")

    vc = li.groupBy("l_returnflag", "l_quantity").agg(F.count("*").alias("cnt"))
    dig = tdigest(li, "l_extendedprice", 100, keys=["l_returnflag", "l_linestatus"])
    rolled = tdigest_union_agg(dig, "tdigest", keys=["l_returnflag"])
    qs = [i / 100 for i in range(1, 100)]
    plans = {
        "build_p95_grouped": tdigest_percentile(
            li, "l_extendedprice", 100, 0.95, keys=["l_returnflag"]
        ),
        "docs_p95_by_lang": tdigest_percentile(
            docs, "n_chars", 100, 0.95, keys=["lang"]
        ),
        "percentile_vector_global": tdigest_percentile(
            li, "l_extendedprice", 100, qs
        ),
        "percentile_of_grouped": tdigest_percentile_of(
            ev, "value", 100, 15.0, keys=["event_type"]
        ),
        "trimmed_avg": tdigest_avg(
            li, "l_extendedprice", 100, 0.1, 0.9, keys=["l_linestatus"]
        ),
        "value_count_ingest": tdigest_percentile(
            vc, "l_quantity", 100, 0.5, keys=["l_returnflag"], count_col="cnt"
        ),
        "preagg_then_rollup": tdigest_percentile_digests(
            rolled, "tdigest", 0.9, keys=["l_returnflag"]
        ),
    }
    os.makedirs(outdir, exist_ok=True)
    for name, df in plans.items():
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
