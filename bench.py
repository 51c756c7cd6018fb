#!/usr/bin/env python
"""Benchmark harness: headline KG-pipeline throughput plus representative
operator queries at $SPARK_GRAFT_SF_DIR on local[N], N = $SPARK_GRAFT_CPUS
or else the CPUs this process may run on.

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...,
     "triples_per_sec": ..., "cores": N, "host": {...}, "source": {...},
     "host.canary_s": [before, after], "host.steal_s": ...}

A kg rep that writes 0 triples from a non-empty input ends the run with
a non-zero exit status and no result line.

``host_record`` is the host record every bench script prints: the one
perfbench/run.py keeps, from perfbench's own functions.
"""

import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from xrenner_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = default_cores()
# documents per KG run: 10x the documents table so the kernel stage has
# real work at every sf (pages are synthesized deterministically; fixed
# session costs amortize with run size — 20k-doc runs measured 1.7-4.1k
# docs/s vs 7.9k at 500k, see BENCH/BASELINE.md — so the bench corpus is
# sized to keep one run ~a minute while staying amortization-honest)
DOC_MULTIPLIER = int(os.environ.get("SPARK_GRAFT_DOC_MULT", "10"))


def _noop_write(df):
    df.write.mode("overwrite").format("noop").save()


@contextlib.contextmanager
def host_record():
    """perfbench's host record around a timed run.  The yielded dict is
    filled when the block ends: ``host`` (CPUs, affinity, memory),
    ``source`` (git sha, source md5), ``host.canary_s`` (the md5 canary
    before and after) and ``host.steal_s`` (hypervisor steal seconds
    during the block, summed over the machine's CPUs)."""
    sys.path.insert(0, os.path.join(REPO, "perfbench"))
    import procstat
    from run import source_id
    record = {}
    canary_before, (steal_before, _) = procstat.canary_s(), procstat.steal()
    yield record
    steal_after, _ = procstat.steal()
    record.update({"host": procstat.host_info(), "source": source_id(REPO),
                   "host.canary_s": [round(canary_before, 3),
                                     round(procstat.canary_s(), 3)],
                   "host.steal_s": round(steal_after - steal_before, 2)})


def _timed_runs(spark, n_docs):
    """The kg_pipeline reps and the operator queries: (timings, reps, extra)."""
    from xrenner_spark.pipeline import generate_pages, run_pipeline
    from xrenner_spark.operators import (relational, dedup, similarity,
                                         textstats, ml_score, web)
    timings = {}
    extra = {}

    # headline: the full KG construction pipeline, run_pipeline from
    # generated pages to its written stage, lineage, chains and triples
    # tables in a temp warehouse; the count reads the written triples back.
    # best-of-2 like the operator queries below: host tenancy arrives in
    # bursts the md5 canary misses, and a burst landing on the single
    # headline number would poison the whole round's record
    kg_reps = []
    for rep in range(2):
        wh = tempfile.mkdtemp(prefix="xkg_bench_")
        t0 = time.perf_counter()
        pages = generate_pages(spark, n_docs, partitions=max(CORES, 8))
        n_triples = run_pipeline(spark, pages, wh, partitions=max(CORES, 8),
                                 resume=False).count()
        kg_reps.append(round(time.perf_counter() - t0, 3))
        shutil.rmtree(wh, ignore_errors=True)
        if n_triples == 0 and n_docs > 0:
            # a 1M-doc rep once wrote 0 triples with no error recorded;
            # a silently empty rep must never enter the record
            raise SystemExit("kg rep %d wrote 0 triples from %d docs"
                             % (rep, n_docs))
        spark._jvm.System.gc()
    kg_sec = min(kg_reps)
    timings["kg_pipeline"] = kg_sec
    extra["kg_reps"] = kg_reps
    extra["kg_docs"] = n_docs
    extra["kg_triples"] = n_triples
    extra["docs_per_sec"] = round(n_docs / kg_sec, 1)
    extra["triples_per_sec"] = round(n_triples / kg_sec, 1)

    operator_benches = {
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
    # each operator query runs twice and reports the BEST rep: the host's
    # external tenancy arrives in bursts that the md5 canary misses
    # (measured 2026-08-16: the identical cached-codegen ann_lsh query in
    # one JVM swung 7.4 s -> 53.8 s run-over-run on a memory-idle box).
    # min-of-2 rejects a burst landing on one rep; both raw values are
    # reported under queries_reps for transparency.
    reps = {}
    for name, fn in operator_benches.items():
        reps[name] = []
        for _rep in range(2):
            spark.catalog.clearCache()  # operator caches must not leak
            # single-JVM local mode couples queries through the shared
            # heap: the kernel stage's ~GBs of transient garbage
            # otherwise lands as GC pauses on whatever query runs next
            # (measured: 57 s vs 6.7 s for the same query).  A real
            # cluster GCs per executor; collect here so each query is
            # timed on its own work.
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            _noop_write(fn(spark, SF_DIR))
            reps[name].append(round(time.perf_counter() - t0, 3))
        timings[name] = min(reps[name])
    return timings, reps, extra


def main():
    from xrenner_spark.session import get_spark

    spark = get_spark("bench", cores=CORES, shuffle_partitions=max(32, CORES))
    spark.sparkContext.setLogLevel("ERROR")

    sf_label = SF_DIR.rstrip("/").split("/")[-1]
    n_docs = spark.read.parquet(SF_DIR + "/documents.parquet").count() * DOC_MULTIPLIER

    with host_record() as host:
        timings, reps, extra = _timed_runs(spark, n_docs)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "kg_pipeline_and_operators_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_reps": reps,
        "sf": sf_label,
        "cores": CORES,
    }
    out.update(extra)
    out.update(host)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
