#!/usr/bin/env python
"""Bucketed-table co-located join: the write-once/join-many lever.

The KG pipeline checkpoints its stage outputs as plain parquet and
re-reads them for doc-keyed joins (triples consumption, the
dedup_kernel_inputs join-back, lineage reconciliation).  Every such
join over plain parquet pays a hash exchange on BOTH sides.  Writing a
checkpoint ONCE as a bucketed+sorted table makes every later join on
the bucket key exchange-free: Spark records the bucketing in the
catalog, the scan reports the hashpartitioning, and SortMergeJoin
consumes both sides in place.

This script measures the trade at N rows: write cost (bucketed write
shuffles once, by design) vs join cost (plain pays two exchanges per
join, bucketed pays zero), and prints both physical plans' exchange
counts.  At 100 TB the rule is: bucket a checkpoint iff it is joined
on the same key MORE THAN ONCE downstream — the bucketed write IS one
exchange, so the break-even is the second join.

Usage: python scripts/bench_bucketed_join.py [n_rows] [buckets] [reps]
"""

import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.bench_1m import canary  # noqa: E402

from xrenner_spark.session import default_cores  # noqa: E402

CORES = default_cores()


def n_exchanges(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")


def main():
    from pyspark.sql import functions as F
    from xrenner_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    buckets = int(sys.argv[2]) if len(sys.argv) > 2 else CORES
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    wh = tempfile.mkdtemp(prefix="xbucket_wh_")
    spark = get_spark("bucketed-join-bench", cores=CORES,
                      shuffle_partitions=CORES,
                      extra_conf={"spark.sql.warehouse.dir": wh,
                                  # isolate the bucketing effect: no AQE
                                  # runtime join demotion either way
                                  "spark.sql.autoBroadcastJoinThreshold": "-1"})
    spark.sparkContext.setLogLevel("ERROR")

    # two doc-keyed "stage outputs": per-doc metadata + per-doc metrics
    docs = (spark.range(0, n, 1, CORES).withColumnRenamed("id", "doc_id")
            .withColumn("n_tokens", F.expr("CAST(xxhash64(doc_id) % 200 AS INT) + 10"))
            .withColumn("url", F.expr("concat('https://example.com/', doc_id)")))
    metrics = (spark.range(0, n, 1, CORES).withColumnRenamed("id", "doc_id")
               .withColumn("n_mentions", F.expr("CAST(xxhash64(doc_id + 7) % 40 AS INT) + 1")))

    t0 = time.time()
    docs.write.parquet(wh + "/plain_docs")
    metrics.write.parquet(wh + "/plain_metrics")
    plain_write = time.time() - t0

    t0 = time.time()
    (docs.write.bucketBy(buckets, "doc_id").sortBy("doc_id")
         .mode("overwrite").saveAsTable("b_docs"))
    (metrics.write.bucketBy(buckets, "doc_id").sortBy("doc_id")
            .mode("overwrite").saveAsTable("b_metrics"))
    bucketed_write = time.time() - t0
    print("write: plain %.1f s, bucketed %.1f s (the bucketed write IS "
          "the one-time exchange)" % (plain_write, bucketed_write),
          flush=True)

    def join_plain():
        a = spark.read.parquet(wh + "/plain_docs")
        b = spark.read.parquet(wh + "/plain_metrics")
        return (a.join(b, "doc_id")
                .select(F.sum(F.col("n_tokens") * F.col("n_mentions"))
                        .alias("s")))

    def join_bucketed():
        a = spark.table("b_docs")
        b = spark.table("b_metrics")
        return (a.join(b, "doc_id")
                .select(F.sum(F.col("n_tokens") * F.col("n_mentions"))
                        .alias("s")))

    res = {}
    for name, fn in (("plain", join_plain), ("bucketed", join_bucketed)):
        walls = []
        for _ in range(reps):
            c = canary()
            spark._jvm.System.gc()
            t0 = time.time()
            row = fn().collect()[0]
            walls.append(time.time() - t0)
            print("  %s join: %.1f s (canary %.2f s)"
                  % (name, walls[-1], c), flush=True)
        df = fn(); df.collect()
        ex = n_exchanges(df)
        res[name] = (min(walls), ex, row.s)
        print("%s: best %.1f s, %d exchanges in executed plan"
              % (name, min(walls), ex), flush=True)

    assert res["plain"][2] == res["bucketed"][2], "join results differ!"
    assert res["bucketed"][1] == 0, "bucketed join still exchanges!"
    print("plain %d exchanges -> bucketed %d; join speedup %.2fx"
          % (res["plain"][1], res["bucketed"][1],
             res["plain"][0] / res["bucketed"][0]))
    shutil.rmtree(wh, ignore_errors=True)


if __name__ == "__main__":
    main()
