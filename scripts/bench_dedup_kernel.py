#!/usr/bin/env python
"""Measure dedup_kernel_inputs on a duplicated corpus: N_DISTINCT
payloads tiled COPIES times under distinct urls (the shape of a real
crawl, which is commonly 30-60% exact-duplicate pages).  Interleaved
plain/dedup reps; per-rep md5 canary for tenancy visibility.

Usage: python scripts/bench_dedup_kernel.py [n_distinct] [copies] [reps]
"""

import hashlib
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from xrenner_spark.session import default_cores  # noqa: E402

CORES = default_cores()


def canary(seconds=1.5):
    t0 = time.time()
    h, n = b"x", 0
    while time.time() - t0 < seconds:
        h = hashlib.md5(h).digest()
        n += 1
    return n / 1e6 / (time.time() - t0)


def main():
    from pyspark.sql import functions as F
    from xrenner_spark.pipeline import generate_pages, run_pipeline
    from xrenner_spark.session import get_spark

    n_distinct = int(sys.argv[1]) if len(sys.argv) > 1 else 125_000
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    spark = get_spark("dedup-kernel-bench", cores=CORES,
                      shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")

    pages = generate_pages(spark, n_distinct, partitions=CORES)
    tiled = None
    for k in range(copies):
        c = pages.withColumn("url", F.concat(F.lit("c%d-" % k),
                                             F.col("url")))
        tiled = c if tiled is None else tiled.union(c)
    tiled = tiled.persist()
    total = tiled.count()
    print("pages: %d (%d distinct x %d copies)"
          % (total, n_distinct, copies), flush=True)

    best = {"plain": None, "dedup": None}
    for rep in range(reps):
        for mode, flag in (("plain", False), ("dedup", True)):
            wh = tempfile.mkdtemp(prefix="xdk_%s_" % mode)
            c = canary()
            spark._jvm.System.gc()
            t0 = time.time()
            t = run_pipeline(spark, tiled, wh, partitions=CORES,
                             dedup_kernel_inputs=flag)
            n = t.count()
            wall = time.time() - t0
            print("rep%d %s: %.1f s, %d triples, %.0f pages/s "
                  "(canary %.2f Mhash/s)"
                  % (rep, mode, wall, n, total / wall, c), flush=True)
            if best[mode] is None or wall < best[mode][0]:
                best[mode] = (wall, n)
            shutil.rmtree(wh, ignore_errors=True)
    assert best["plain"][1] == best["dedup"][1], "triple counts differ!"
    print("best plain %.1f s / best dedup %.1f s -> %.2fx"
          % (best["plain"][0], best["dedup"][0],
             best["plain"][0] / best["dedup"][0]))


if __name__ == "__main__":
    main()
