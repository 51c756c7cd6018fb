"""Output checks run on the warehouse of every timed pass.

A pass is correct when:
  * its ``stage_kernel`` table has one doc row per input page;
  * the doc rows that carry an error are exactly the planted malformed
    pages;
  * ``_lineage_extract`` reports no extraction invariant violation;
  * ``triples`` is not empty;
  * on a re-crawl, every copy of a page carries the same triples as the
    page's other copies (so as its representative's);
and its order-independent digests of ``triples`` and ``chains`` match
those of the run's other passes (compared by the caller).
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from typing import Dict, List, Tuple

# triple fields that must agree between copies of one page (url and
# warc_ts are the copy's own)
_TRIPLE_PAYLOAD = ("subj", "pred", "obj", "subj_group", "obj_group",
                   "subj_entity", "obj_entity", "sent_num", "verb_id")


def _row_hash(df):
    """64-bit hash of every row; array columns are sorted first, since
    ``collect_list`` order is not fixed."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    cols = [F.array_sort(F.col(f.name)) if isinstance(f.dataType, T.ArrayType)
            else F.col(f.name) for f in df.schema.fields]
    return F.xxhash64(*cols)


def _fold(n: int, total) -> str:
    return hashlib.md5(("%d:%s" % (n, total)).encode()).hexdigest()[:16]


def check_passes(spark, warehouses: List[str],
                 meta: Dict) -> Tuple[List[str], List[Dict]]:
    """Problems found (empty when every pass is correct) and, per pass,
    the facts read: doc rows, errors, triples/chains counts and their
    digests (row count and the sum of the row hashes, folded into 16 hex
    digits, so independent of row order).  The doc rows and digests of
    all passes come from one Spark job; the lineage and re-crawl checks
    are made on the first pass."""
    from pyspark.sql import functions as F
    read = lambda wh, name: spark.read.parquet(os.path.join(wh, name))
    problems: List[str] = []

    parts = None
    for i, wh in enumerate(warehouses):
        docs = read(wh, "stage_kernel").filter(F.col("row_type") == "d").select(
            F.lit("%d docs" % i).alias("t"), F.lit(0).cast("long").alias("h"),
            F.when(F.col("error") != "", F.col("url")).alias("err_url"))
        parts = docs if parts is None else parts.unionByName(docs)
        for name in ("triples", "chains"):
            df = read(wh, name)
            parts = parts.unionByName(df.select(
                F.lit("%d %s" % (i, name)).alias("t"), _row_hash(df).alias("h"),
                F.lit(None).cast("string").alias("err_url")))
    rows = parts.groupBy("t").agg(
        F.count("*").alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.collect_list("err_url").alias("err")).collect()
    got = {r["t"]: r for r in rows}

    facts = []
    for i in range(len(warehouses)):
        count = lambda t: got["%d %s" % (i, t)]["n"] if "%d %s" % (i, t) in got else 0
        digest = lambda t: _fold(count(t), got["%d %s" % (i, t)]["s"] if count(t) else 0)
        n_docs, n_triples = count("docs"), count("triples")
        err_urls = sorted(got["%d docs" % i]["err"]) if n_docs else []
        if n_docs != meta["pages"]:
            problems.append("pass %d: doc rows %d != pages %d" % (i, n_docs, meta["pages"]))
        if err_urls != meta["planted"]:
            problems.append("pass %d: error rows on %d pages, %d planted (%d unplanted)"
                            % (i, len(err_urls), len(meta["planted"]),
                               len(set(err_urls) - set(meta["planted"]))))
        if n_triples == 0:
            problems.append("pass %d: no triples from %d pages" % (i, n_docs))
        facts.append({"doc_rows": n_docs, "errors": len(err_urls),
                      "unplanted_errors": len(set(err_urls) - set(meta["planted"])),
                      "triples": n_triples, "chains": count("chains"),
                      "triples_digest": digest("triples"),
                      "chains_digest": digest("chains")})

    if warehouses:
        violations = read(warehouses[0], "_lineage_extract").agg(
            F.sum("invariant_violations")).first()[0]
        if violations != 0:
            problems.append("pass 0: extract invariant violations: %s" % violations)
        if meta.get("groups"):
            problems += ["pass 0: " + p for p in
                         _check_copies(read(warehouses[0], "triples"), meta["groups"])]
    if len({(f["triples_digest"], f["chains_digest"]) for f in facts}) > 1:
        problems.append("triples/chains digests differ between passes")
    return problems, facts


def _check_copies(triples, groups: List[List[str]]) -> List[str]:
    by_url: Dict[str, Counter] = {}
    for row in triples.select("url", *_TRIPLE_PAYLOAD).collect():
        by_url.setdefault(row["url"], Counter())[
            tuple(row[k] for k in _TRIPLE_PAYLOAD)] += 1
    bad = [g for g in groups
           if any(by_url.get(u, Counter()) != by_url.get(g[0], Counter())
                  for u in g[1:])]
    if bad:
        return ["%d of %d re-crawled pages have copies whose triples differ "
                "(first: %s)" % (len(bad), len(groups), bad[0][0])]
    if not any(g[0] in by_url for g in groups):
        return ["no re-crawled page produced triples"]
    return []
