#!/usr/bin/env python
"""Operator-query measurements beside bench.py (the kg_pipeline wall is
split by layer by ``perfbench/run.py --trace 1``, from run_pipeline):

  plans   — dump .explain("formatted") for every bench operator query
            to plans/r06/<name>_<tag>.txt
  ops     — noop-sink best-of-N timing for the operator queries only
            (skips the kg pipeline for fast A/B iteration)

Usage: python bench_extra.py plans <tag>|ops [names...]
"""
import json, os, sys, time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xrenner_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = default_cores()
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "2"))


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def get_ops():
    from xrenner_spark.operators import (relational, dedup, similarity,
                                         textstats, ml_score, web)
    return {
        "dedup_minhash_lsh": dedup.dedup_minhash_lsh,
        "dedup_simhash": dedup.dedup_simhash,
        "dedup_exact": dedup.dedup_exact,
        "ann_topk_bruteforce": similarity.ann_topk_bruteforce,
        "ann_lsh_bucket": similarity.ann_lsh_bucket,
        "text_quality": textstats.text_quality,
        "text_lang_id": textstats.text_lang_id,
        "text_repetition": textstats.text_repetition,
        "web_url_dedup": web.url_dedup,
        "clf_score_gbt": ml_score.clf_score_gbt,
        "rel_grouped_agg": relational.rel_grouped_agg,
        "rel_broadcast_join": relational.rel_broadcast_join,
        "rel_join_chain": relational.rel_join_chain,
        "rel_window_top1": relational.rel_window_top1,
    }


def main():
    from xrenner_spark.session import get_spark
    mode = sys.argv[1] if len(sys.argv) > 1 else "ops"
    spark = get_spark("bench_extra", cores=CORES,
                      shuffle_partitions=max(32, CORES))
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    if mode == "plans":
        tag = sys.argv[2] if len(sys.argv) > 2 else "before"
        names = sys.argv[3:]
        ops = get_ops()
        for name, fn in ops.items():
            if names and name not in names:
                continue
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open("plans/r06/%s_%s.txt" % (name, tag), "w") as fh:
                fh.write(plan)
            print("wrote plans/r06/%s_%s.txt" % (name, tag))
    elif mode == "ops":
        names = sys.argv[2:]
        ops = get_ops()
        timings, reps = {}, {}
        for name, fn in ops.items():
            if names and name not in names:
                continue
            reps[name] = []
            for _rep in range(REPS):
                spark.catalog.clearCache()
                spark._jvm.System.gc()
                sc.setJobDescription(name)
                t0 = time.perf_counter()
                _noop(fn(spark, SF_DIR))
                reps[name].append(round(time.perf_counter() - t0, 3))
            timings[name] = min(reps[name])
        print(json.dumps({"queries": timings, "queries_reps": reps,
                          "sf": SF_DIR.rstrip("/").split("/")[-1]}))
    spark.stop()


if __name__ == "__main__":
    main()
