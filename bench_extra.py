#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN; this file carries the
extra measurements the optimization guide asks for):

  phases  — split the kg_pipeline wall into generate+kernel+write vs
            read-back+triples (job-description labelled)
  plans   — dump .explain("formatted") for every bench operator query
            to plans/r06/<name>_<tag>.txt
  ops     — noop-sink best-of-N timing for the operator queries only
            (skips the kg pipeline for fast A/B iteration)

Usage: python bench_extra.py phases|plans <tag>|ops [names...]
"""
import json, os, shutil, sys, tempfile, time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xrenner_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = default_cores()
DOC_MULTIPLIER = int(os.environ.get("SPARK_GRAFT_DOC_MULT", "10"))
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

    if mode == "phases":
        from xrenner_spark.lex import load_lex
        from xrenner_spark.pipeline import (chains_stage, fused_extract_kernel_stage,
                                            generate_pages, salt_by_url,
                                            triples_stage)
        n_docs = spark.read.parquet(SF_DIR + "/documents.parquet").count() * DOC_MULTIPLIER
        out = {}
        for rep in range(REPS):
            wh = tempfile.mkdtemp(prefix="xkg_phase_")
            sc.setJobDescription("kg phase 1: generate+kernel+write")
            t0 = time.perf_counter()
            pages = generate_pages(spark, n_docs, partitions=max(CORES, 8))
            bcast = sc.broadcast(load_lex())
            fused_extract_kernel_stage(
                salt_by_url(pages, max(CORES, 8)), bcast).write.parquet(wh + "/stage_kernel")
            t1 = time.perf_counter()
            sc.setJobDescription("kg phase 2: read+triples+count")
            kernel_out = spark.read.parquet(wh + "/stage_kernel")
            chains = chains_stage(kernel_out)
            n_triples = triples_stage(kernel_out, chains=chains).count()
            t2 = time.perf_counter()
            out.setdefault("phase1_kernel_write", []).append(round(t1 - t0, 3))
            out.setdefault("phase2_triples", []).append(round(t2 - t1, 3))
            out["n_triples"] = n_triples
            shutil.rmtree(wh, ignore_errors=True)
            spark._jvm.System.gc()
        print(json.dumps(out))
    elif mode == "plans":
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
