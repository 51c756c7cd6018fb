#!/usr/bin/env python
"""Measured ANN RECALL at large N (completion numbers alone don't show
the scale path still answers the question).  Synthesizes the same
deterministic 1M-vector table as bench_ops_scale, then:

  * ann_lsh_bucket: exact top-3 for ~200 sampled query ids via a
    broadcast Arrow scorer (per-batch GEMM top-k is exact after the
    global merge: every global top-3 neighbour is top-3 in its own
    batch), compared to the operator's full top-3 graph;
  * ann_ivf_topk: exact top-3 for its 10 fixed queries via the same
    scorer, compared to the operator output.

Reports id-recall (|approx ∩ exact| / 3) and score-recall (approx
neighbours scoring >= the exact 3rd-best — tie-fair).  Usage:
python scripts/ann_recall_scale.py [n_vecs] [n_sample]
"""

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from xrenner_spark.session import default_cores  # noqa: E402

CORES = default_cores()
DIM = 64
TOP_K = 3


def synth_embeddings(spark, out_dir, n_vecs, planted=False):
    """Uniform-random vectors (bench_ops_scale's exact formula), or a
    PLANTED near-dup table: the second half are 0.95/0.31 blends of
    their first-half partner (cos ≈ 0.95 — the similarity regime the
    dedup/ANN bucket path exists for; uniform-random top-3 at cos ≈ 0.5
    is the worst case for any hyperplane scheme)."""
    from pyspark.sql import functions as F
    r = ("CAST(pmod(hash(%s * 131 + d), 20001) - 10000 AS FLOAT) / 10000.0")
    if planted:
        half = n_vecs // 2
        comp = ("CASE WHEN vec_id < {h} THEN {base} "
                "ELSE CAST(0.95 * ({partner}) + 0.31 * ({base}) AS FLOAT) END"
                ).format(h=half, base=r % "vec_id",
                         partner=r % ("(vec_id - %d)" % half))
    else:
        comp = r % "vec_id"
    emb = (spark.range(n_vecs).withColumnRenamed("id", "vec_id")
           .select("vec_id",
                   F.expr("transform(sequence(0, %d), d -> %s)"
                          % (DIM - 1, comp)).alias("embedding"),
                   F.pmod(F.hash("vec_id"), F.lit(16)).cast("int")
                   .alias("label"))
           .repartition(max(CORES, 8)))
    emb.write.mode("overwrite").parquet(out_dir + "/embeddings.parquet")


def exact_topk(spark, sf_dir, query_ids):
    """Exact integer-dot top-3 for the given query ids over ALL vectors:
    broadcast the query bank, one Arrow GEMM per batch emitting
    per-batch top-3 candidates, then a global per-query window."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F, types as T
    from pyspark.sql.window import Window
    from xrenner_spark.operators.similarity import _quantized

    vecs = _quantized(spark, sf_dir)
    qids = sorted(query_ids)
    qbank = (vecs.filter(F.col("vec_id").isin(qids))
             .toPandas().sort_values("vec_id"))
    Q = np.array(qbank["q"].tolist(), dtype=np.int64)          # S x 64
    qid_arr = qbank["vec_id"].to_numpy()
    bc = spark.sparkContext.broadcast((qid_arr, Q))

    schema = T.StructType([T.StructField("query_id", T.LongType()),
                           T.StructField("neighbor_id", T.LongType()),
                           T.StructField("score", T.LongType())])

    def run(pdf_iter):
        qid_a, Qb = bc.value
        s = len(qid_a)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            M = np.array(pdf["q"].tolist(), dtype=np.int64)    # b x 64
            S = Qb @ M.T                                       # s x b
            S[qid_a[:, None] == ids[None, :]] = -(2 ** 62)     # no self
            k = min(TOP_K, S.shape[1])
            # stable top-k by (-score, neighbor_id): ids ascend within a
            # batch after argsort on ids; use lexsort for tie order
            order = np.lexsort((ids[None, :].repeat(s, 0), -S), axis=1)[:, :k]
            qi = np.repeat(qid_a, k)
            ni = ids[order].ravel()
            sc = np.take_along_axis(S, order, axis=1).ravel()
            yield pd.DataFrame({"query_id": qi, "neighbor_id": ni,
                                "score": sc})

    cand = vecs.mapInPandas(run, schema=schema)
    win = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (cand.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "score"))


def recall(exact_rows, approx_rows):
    """Per-query id-recall and tie-fair score-recall, averaged."""
    from collections import defaultdict
    ex, ap = defaultdict(list), defaultdict(list)
    for r in exact_rows:
        ex[r["query_id"]].append((r["neighbor_id"], r["score"]))
    for r in approx_rows:
        ap[r["query_id"]].append((r["neighbor_id"], r["score"]))
    id_r, sc_r = [], []
    for q, pairs in ex.items():
        got = ap.get(q, [])
        exact_ids = {n for n, _ in pairs}
        kth = min(s for _, s in pairs)
        id_r.append(len(exact_ids & {n for n, _ in got}) / len(exact_ids))
        sc_r.append(sum(1 for _, s in got if s >= kth) / len(exact_ids))
    n = max(len(id_r), 1)
    return round(sum(id_r) / n, 4), round(sum(sc_r) / n, 4), len(id_r)


def main():
    from pyspark.sql import functions as F
    from xrenner_spark.operators import similarity
    from xrenner_spark.session import get_spark

    n_vecs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_sample = int(sys.argv[2]) if len(sys.argv) > 2 else 200

    spark = get_spark("ann-recall", cores=CORES,
                      shuffle_partitions=max(32, CORES))
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = tempfile.mkdtemp(prefix="xann_recall_")
    synth_embeddings(spark, out_dir, n_vecs)

    report = {"n_vecs": n_vecs, "n_sample": n_sample}

    # --- LSH: sampled queries vs the full top-3 graph ----------------
    step = max(n_vecs // n_sample, 1)
    sample = list(range(0, n_vecs, step))[:n_sample]
    t0 = time.perf_counter()
    exact = exact_topk(spark, out_dir, sample).collect()
    report["exact_scan_s"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    approx = (similarity.ann_lsh_bucket(spark, out_dir)
              .filter(F.col("query_id").isin(sample)).collect())
    report["lsh_s"] = round(time.perf_counter() - t0, 2)
    idr, scr, nq = recall([r.asDict() for r in exact],
                          [r.asDict() for r in approx])
    report["lsh"] = {"id_recall": idr, "score_recall": scr, "queries": nq}
    print(json.dumps({"lsh": report["lsh"]}))

    # --- IVF: its 10 fixed queries vs the same exact scorer ----------
    exact10 = exact_topk(spark, out_dir,
                         list(range(similarity.N_QUERIES))).collect()
    t0 = time.perf_counter()
    ivf = similarity.ann_ivf_topk(spark, out_dir).collect()
    report["ivf_s"] = round(time.perf_counter() - t0, 2)
    idr, scr, nq = recall([r.asDict() for r in exact10],
                          [r.asDict() for r in ivf])
    report["ivf"] = {"id_recall": idr, "score_recall": scr, "queries": nq}

    # --- PLANTED near-dup table: the regime the bucket path is FOR ---
    half = n_vecs // 2
    synth_embeddings(spark, out_dir, n_vecs, planted=True)
    t0 = time.perf_counter()
    lsh = similarity.ann_lsh_bucket(spark, out_dir)
    found = (lsh.filter((F.col("query_id") < half)
                        & (F.col("neighbor_id") == F.col("query_id") + half))
             .count())
    report["planted_lsh_s"] = round(time.perf_counter() - t0, 2)
    report["planted_lsh_partner_recall"] = round(found / half, 4)
    t0 = time.perf_counter()
    dd = similarity.dedup_embedding_cosine(spark, out_dir)
    # one pass: both counts from a single execution of the pipeline
    row = dd.agg(
        F.count("*").alias("total"),
        F.sum((F.col("vec_b") == F.col("vec_a") + half).cast("long"))
        .alias("found")).collect()[0]
    dfound, dtotal = row["found"] or 0, row["total"]
    report["planted_dedup_s"] = round(time.perf_counter() - t0, 2)
    report["planted_dedup_pair_recall"] = round(dfound / half, 4)
    report["planted_dedup_total_pairs"] = dtotal
    print(json.dumps(report))
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
