"""Per-leg profiling of the expensive text-query bench legs (guide §1:
measure first). Mirrors bench.py's session config exactly. Usage:

  python tools/leg_profile.py minhash|ann [repeats]

Prints one JSON line per repeat with the leg timing. The spatial legs
are profiled by the layered benchmark instead:
`python3 perfbench/run.py --workload join --trace 1` reports the PIP
join's setup (ops.pip.setup) and probe (ops.pip.probe) phases; every
traced run also times the H3 cover kernel and operator (ops.h3tiles).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def session(cpus="32"):
    from pyspark.sql import SparkSession
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("leg-profile")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def profile_minhash(spark, sf_dir, feats):
    from openair_spark.queries import build_catalog
    cat = build_catalog()
    t = {}
    t0 = time.time()
    n = cat["dedup_minhash_lsh"].spark_fn(spark, sf_dir).count()
    t["full_leg"] = round(time.time() - t0, 3)
    t["rows"] = n
    return t


def profile_ann(spark, sf_dir, feats):
    from openair_spark.queries import build_catalog
    cat = build_catalog()
    t = {}
    t0 = time.time()
    n = cat["ann_bucket_join"].spark_fn(spark, sf_dir).count()
    t["full_leg"] = round(time.time() - t0, 3)
    t["rows"] = n
    return t


def main():
    leg = sys.argv[1]
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    feats = spark.read.parquet("/tmp/spark_graft_bench/features")
    feats.limit(16).count()
    fn = {"minhash": profile_minhash, "ann": profile_ann}[leg]
    for i in range(repeats):
        t0 = time.time()
        t = fn(spark, sf_dir, feats)
        t["wall"] = round(time.time() - t0, 3)
        print(json.dumps({"leg": leg, "rep": i, **t}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
