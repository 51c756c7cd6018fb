#!/usr/bin/env python
"""Streaming operators at scale: 500k pages through the stateful
streaming_dedup and streaming_domain_cap operators (availableNow,
multi-micro-batch via maxFilesPerTrigger), wall-clock + output
validated against the batch answer (distinct texts / per-domain cap).

The page set tiles the sf0.1 corpus 100x (same duplicate structure as
bench_ops_scale.py) with per-copy urls and staggered event timestamps,
so cross-batch state is genuinely exercised: copies of one text land
in MANY different micro-batches and all but the first must drop.

Prints one JSON line with every run and bench.py's host record.

Usage: python scripts/bench_streaming_scale.py [doc_mult] [files_per_trigger]
"""

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import host_record  # noqa: E402
from xrenner_spark.session import default_cores  # noqa: E402

CORES = default_cores()
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def synth_pages(spark, src_dir, doc_mult):
    from pyspark.sql import functions as F
    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    copies = spark.range(doc_mult).withColumnRenamed("id", "copy")
    pages = (docs.crossJoin(copies)
             .select(
                 F.concat(F.lit("https://d"), F.col("doc_id"),
                          F.lit(".example/p"), F.col("copy")).alias("url"),
                 (F.to_timestamp(F.lit("2026-01-01 00:00:00"))
                  + F.make_interval(secs=F.col("copy") * 60
                                    + F.pmod(F.col("doc_id"), F.lit(60))))
                 .alias("warc_ts"),
                 "text", "lang")
             .repartition(max(CORES, 8)))
    pages.write.mode("overwrite").parquet(src_dir)
    # metadata-driven count over the written files (re-counting the
    # unexecuted crossJoin plan would re-run the whole synthesis)
    return spark.read.parquet(src_dir).count()


def measure(spark, doc_mult, fpt):
    from pyspark.sql import functions as F
    from xrenner_spark.streaming import streaming_dedup, streaming_domain_cap

    base = tempfile.mkdtemp(prefix="xstream_scale_")
    src = base + "/src"
    n_pages = synth_pages(spark, src, doc_mult)
    schema = spark.read.parquet(src).schema
    n_distinct = (spark.read.parquet(src)
                  .select(F.md5("text")).distinct().count())
    report = {"n_pages": n_pages, "n_distinct_texts": n_distinct,
              "files_per_trigger": fpt, "cores": CORES}

    def run(name, build):
        out, ckpt = base + "/out_" + name, base + "/ckpt_" + name
        t0 = time.perf_counter()
        pages = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", fpt).parquet(src))
        q = (build(pages).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        wall = round(time.perf_counter() - t0, 2)
        batches = q.lastProgress["batchId"] + 1 if q.lastProgress else None
        got = spark.read.parquet(out)
        report[name] = {"wall_s": wall, "micro_batches": batches,
                        "rows": got.count()}
        return got

    got = run("dedup", streaming_dedup)
    # exact-dedup semantics: one survivor per distinct text
    report["dedup"]["distinct_ok"] = report["dedup"]["rows"] == n_distinct
    report["dedup"]["cross_batch_drops"] = int(
        n_pages - report["dedup"]["rows"])

    # url frontier over a REWRITTEN source: every 4 consecutive copies
    # of a page become 4 raw spellings of ONE logical url (host case,
    # www., :443, tracking param, trailing slash, fragment), so the
    # frontier must collapse 4:1 across micro-batch boundaries
    from xrenner_spark.operators.web import _canon_sql
    from xrenner_spark.streaming import streaming_url_frontier
    fsrc = base + "/src_frontier"
    pages0 = spark.read.parquet(src)
    k = F.regexp_extract("url", r"/p(\d+)$", 1).cast("long")
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    page = F.concat(F.lit("/p"), (k / 4).cast("long").cast("string"))
    variant = F.pmod(k, F.lit(4))
    spelled = (F.when(variant == 0,
                      F.concat(F.lit("https://"), host, page))
               .when(variant == 1, F.concat(
                   F.lit("https://"), F.upper(host), page,
                   F.lit("?utm_source=feed")))
               .when(variant == 2, F.concat(
                   F.lit("https://www."), host, page, F.lit("/#frag")))
               .otherwise(F.concat(
                   F.lit("https://"), host, F.lit(":443"), page,
                   F.lit("?gclid=1"))))
    (pages0.withColumn("url", spelled)
     .repartition(max(CORES, 8)).write.mode("overwrite").parquet(fsrc))
    src_saved = src
    src = fsrc
    got = run("url_frontier", streaming_url_frontier)
    src = src_saved
    batch_canon = (spark.read.parquet(fsrc)
                   .select(F.expr(_canon_sql("spark")).alias("c"))
                   .distinct())
    n_logical = batch_canon.count()
    report["url_frontier"]["logical_pages"] = n_logical
    report["url_frontier"]["keys_match_batch"] = (
        report["url_frontier"]["rows"] == n_logical
        and got.select("canonical_url").distinct()
               .exceptAll(batch_canon).count() == 0)

    got = run("domain_cap", lambda p: streaming_domain_cap(p, cap=10))
    by_dom = (got.groupBy(F.regexp_extract("url", r"https://([^/]+)/", 1)
                          .alias("dom")).count())
    report["domain_cap"]["max_per_domain"] = by_dom.agg(
        F.max("count")).collect()[0][0]
    report["domain_cap"]["domains"] = by_dom.count()

    shutil.rmtree(base, ignore_errors=True)
    return report


def main():
    from xrenner_spark.session import get_spark

    doc_mult = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    fpt = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    spark = get_spark("stream-scale", cores=CORES,
                      shuffle_partitions=max(32, CORES))
    spark.sparkContext.setLogLevel("ERROR")
    with host_record() as host:
        report = measure(spark, doc_mult, fpt)
    print(json.dumps({**report, **host}))


if __name__ == "__main__":
    main()
