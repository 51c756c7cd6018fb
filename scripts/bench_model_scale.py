#!/usr/bin/env python
"""Kernel throughput at toy vs production-scale lexicon (VERDICT r2 #4).

Runs the identical ``kernel_stage(extract_stage(...))`` pass over the
same N docs with (a) the bundled toy models/web and (b) the .large_model
variant generated by scripts/make_large_model.py, reporting lex build
time, broadcast payload size, docs/s and mention counts for each, with
bench.py's host record on every line.  Fresh Spark session per model so
JVM/GC state cannot couple the two measurements.

Usage: python scripts/bench_model_scale.py [n_docs] [cores] [reps]
(cores defaults to the CPUs this process may run on)
"""

import json
import os
import pickle
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import host_record  # noqa: E402
from xrenner_spark.session import default_cores  # noqa: E402


def measure(model_dir, n_docs, cores):
    from xrenner_spark.lex import load_lex
    from xrenner_spark.pipeline import (extract_stage, generate_pages,
                                        kernel_stage, salt_by_url)
    from xrenner_spark.session import get_spark

    t0 = time.time()
    lex = load_lex(model_dir)
    build_s = time.time() - t0
    payload = len(pickle.dumps(lex))

    spark = get_spark("model-scale", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    bcast = spark.sparkContext.broadcast(lex)
    pages = salt_by_url(generate_pages(spark, n_docs, partitions=cores), cores)
    t0 = time.time()
    out = kernel_stage(extract_stage(pages), bcast)
    n_mentions = out.filter("row_type = 'm'").count()
    wall = time.time() - t0
    spark.stop()
    return {"model": model_dir, "lex_build_s": round(build_s, 3),
            "broadcast_bytes": payload, "docs": n_docs,
            "wall_s": round(wall, 2), "docs_per_sec": round(n_docs / wall, 1),
            "mentions": n_mentions}


def main():
    # one model per process: a shared JVM would hand the second config a
    # JIT-warmed runtime (measured: +46% docs/s for whichever runs second)
    if len(sys.argv) > 1 and sys.argv[1] == "--one":
        with host_record() as host:
            result = measure(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
        print(json.dumps({**result, **host}))
        return
    import subprocess
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else default_cores()
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    large_dir = os.path.join(REPO, ".large_model")
    if not os.path.isdir(large_dir):
        raise SystemExit("run scripts/make_large_model.py first")
    toy_dir = os.path.join(REPO, "xrenner_spark", "models", "web")
    for _ in range(reps):
        for model in (toy_dir, large_dir):   # interleaved A/B
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", model,
                 str(n_docs), str(cores)],
                capture_output=True, text=True, timeout=1200)
            line = [ln for ln in out.stdout.strip().split("\n")
                    if ln.startswith("{")][-1]
            print(line)


if __name__ == "__main__":
    main()
