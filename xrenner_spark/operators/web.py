"""Web-page URL operators: canonicalization + capture dedup.

The target input shape (BASELINE.json input_hint) is a Common-Crawl
style table ``(url, warc_ts, html, text, lang)`` where the same logical
page appears under many raw URL spellings and many capture timestamps.
The two production moves every crawl pipeline makes before any content
work are (1) canonicalize the URL and (2) keep one capture per
canonical URL (usually the latest).  Both are pure string/agg work that
must stay JVM-side — one shuffle on the canonical key, no Python.

The test tables carry no url column, so ``_pages_df`` projects a
deterministic crawl out of ``documents.parquet``: every four doc_ids
form one logical page whose four raw spellings differ only in the ways
canonicalization must erase (host case, ``www.`` prefix, default
``:443`` port, tracking params, param order, trailing slash, fragment),
and ``warc_ts`` grows monotonically with doc_id so "latest capture" has
a unique answer.  The same projection and the same canonicalization are
written twice — Spark column expressions and DuckDB SQL — and the
driver hash-compares the results, so the contract is pinned by two
independent string engines, exactly like the other oracle pairs.

Canonicalization contract (deliberately scoped, documented here;
defined for absolute http(s) URLs):
  1. drop everything from the FIRST ``#`` (fragment);
  2. lowercase scheme and host;
  3. strip a leading ``www.`` from the host;
  4. drop default ports ``:80`` and ``:443`` (any other port is kept);
  5. drop tracking params (``utm_*``, ``fbclid``, ``gclid``), sort the
     survivors bytewise, rejoin with ``&`` (no ``?`` if none survive);
  6. strip trailing ``/``-runs from the path (root serializes empty).
All separators use FIRST-OCCURRENCE semantics (the host ends at the
first ``/`` or ``?``; the query starts at the first ``?`` and may
itself contain ``?`` or ``://`` — redirect/outlink params are routine
in real crawls), matching Python's str.partition.  split_part(x, sep,
2) must NOT be used for "remainder" pieces — it returns only the field
BETWEEN the first and second separator, silently truncating a query
like ``?u=https://b.com/x`` (found by self-review; pinned by the
random-URL differential test's adversarial families).

At 100 TB: canonicalization is map-side (free at any scale); the dedup
is ONE exchange hashed on canonical_url.  A viral URL with millions of
captures is not a hot-key cliff: count/min/max_by all partial-aggregate
map-side, so even a pathological key reduces to one row per input
partition before the shuffle (verified in BENCH/PLANS.md §18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

#: captures per logical page in the synthetic projection
CAPTURES_PER_PAGE = 4

#: the four raw spellings of one logical page, keyed by doc_id %% 4;
#: `base` is the page identity (doc_id DIV 4) as a string
_VARIANTS = [
    # host case + default port + tracking param + unsorted + fragment
    "'https://WWW.Example.com:443/site/' || base ||"
    " '/?b=2&a=1&utm_source=feed#frag'",
    # canonical except the www. prefix
    "'https://www.example.com/site/' || base || '?a=1&b=2'",
    # fbclid + trailing slash
    "'https://example.com:443/site/' || base || '/?fbclid=abc&a=1&b=2'",
    # host case + gclid + unsorted params
    "'https://Example.COM/site/' || base || '?b=2&a=1&gclid=1'",
]

_CASE_URL = ("CASE CAST(doc_id % {k} AS INT) "
             + " ".join("WHEN %d THEN %s" % (i, v)
                        for i, v in enumerate(_VARIANTS))
             + " END").replace("{k}", str(CAPTURES_PER_PAGE))


def _pages_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, warc_ts) synthetic crawl over the documents table."""
    docs = (spark.read.parquet(sf_dir + "/documents.parquet")
            .select("doc_id")
            .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    return (docs
            .withColumn("base",
                        F.expr("CAST(doc_id DIV %d AS STRING)"
                               % CAPTURES_PER_PAGE))
            .select("doc_id",
                    F.expr(_CASE_URL).alias("url"),
                    F.expr("timestamp'2024-01-01 00:00:00' + make_interval"
                           "(0, 0, 0, 0, CAST(doc_id AS INT), 0, 0)")
                    .alias("warc_ts")))


_PAGES_SQL = ("""
    SELECT doc_id,
           """ + _CASE_URL + """ AS url,
           TIMESTAMP '2024-01-01 00:00:00'
               + doc_id * INTERVAL 1 HOUR AS warc_ts
    FROM (SELECT doc_id, CAST(doc_id // %d AS VARCHAR) AS base
          FROM documents)
""" % CAPTURES_PER_PAGE)
# DuckDB CASE CAST(doc_id %% 4 ...): the % above is literal (no Python
# formatting is applied to _PAGES_SQL after this point)


def _canon_sql(engine: str) -> str:
    """The canonicalization pipeline over a column named ``url``,
    emitted once per engine with identical semantics.  split_part(x,
    sep, 1) is the prefix before the FIRST separator (the whole string
    when absent) in both engines — but split_part(x, sep, 2) is the
    field BETWEEN the first and second separator, NOT the remainder,
    so every remainder piece is substr past the part-1 prefix instead
    (first-occurrence partition semantics, matching the pure-Python
    contract implementation; '' falls out naturally when the separator
    is absent because substr runs past the end)."""
    def after(expr, sep):
        return ("substr(%s, length(split_part(%s, '%s', 1)) + %d)"
                % (expr, expr, sep, len(sep) + 1))

    nofrag = "split_part(url, '#', 1)"
    scheme = "lower(split_part(%s, '://', 1))" % nofrag
    rest = after(nofrag, "://")
    # host ends at the first '/' OR '?': a path-less 'example.com?a=1'
    # must not fold its query into the host
    hostport = "split_part(split_part(%s, '?', 1), '/', 1)" % rest
    host0 = "lower(split_part(%s, ':', 1))" % hostport
    port = after(hostport, ":")
    pathq = "substr(%s, length(%s) + 1)" % (rest, hostport)
    path = "regexp_replace(split_part(%s, '?', 1), '/+$', '')" % pathq
    q = after(pathq, "?")
    if engine == "spark":
        # Spark formulation: every normalization is UNCONDITIONAL — no
        # CASE/IF around the deep split_part trees.  Conditional
        # branches defeat codegen subexpression elimination, and the
        # duplicated trees blew the generated method past what HotSpot
        # will JIT promptly: the first 4M-row run took 205 s vs 4.7 s
        # once compiled (BENCH/BASELINE.md, "web_url_dedup at 4M
        # captures").  Where a subtree must appear twice (the
        # substr-past-prefix remainder helper), both references are
        # always-evaluated, so CSE deduplicates them — only conditional
        # duplication is forbidden.
        host = "regexp_replace(%s, '^www\\\\.', '')" % host0
        portc = "regexp_replace(':' || %s, '^:(80|443)?$', '')" % port
        params = ("filter(split(%s, '&'), p -> p != '' "
                  "AND NOT startswith(p, 'utm_') "
                  "AND NOT startswith(p, 'fbclid') "
                  "AND NOT startswith(p, 'gclid'))" % q)
        qc = "array_join(array_sort(%s), '&')" % params
        # '?' || qc collapses to '' when qc is empty — qc appears once
        qpart = "regexp_replace('?' || %s, '^\\\\?$', '')" % qc
        return ("%s || '://' || %s || %s || %s || %s"
                % (scheme, host, portc, path, qpart))
    # DuckDB formulation: the independent oracle keeps the plain
    # CASE/branch form — two engines, two formulations, one contract.
    host = ("CASE WHEN starts_with(%s, 'www.') THEN substr(%s, 5) "
            "ELSE %s END" % (host0, host0, host0))
    portc = ("CASE WHEN %s IN ('', '80', '443') THEN '' "
             "ELSE ':' || %s END" % (port, port))
    params = ("list_filter(string_split(%s, '&'), p -> p != '' "
              "AND NOT starts_with(p, 'utm_') "
              "AND NOT starts_with(p, 'fbclid') "
              "AND NOT starts_with(p, 'gclid'))" % q)
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — found by the random-URL differential test
    # (the synth family never produces an all-stripped query)
    qc = "coalesce(array_to_string(list_sort(%s), '&'), '')" % params
    return ("%s || '://' || %s || %s || %s || "
            "CASE WHEN %s = '' THEN '' ELSE '?' || %s END"
            % (scheme, host, portc, path, qc, qc))


def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup with latest-capture selection.

    Plan shape: parquet scan (doc_id only) -> map-side projection +
    canonicalization (whole-stage codegen, no Python) -> ONE hash
    exchange on canonical_url with partial aggregation before it.
    max_by picks the latest capture; warc_ts is strictly monotone in
    doc_id here, so the answer is unique.
    """
    pages = _pages_df(spark, sf_dir)
    pages = pages.withColumn("canonical_url", F.expr(_canon_sql("spark")))
    return (pages.groupBy("canonical_url")
            .agg(F.count("*").cast("long").alias("n_captures"),
                 F.min("url").alias("first_raw_url"),
                 F.expr("max_by(doc_id, warc_ts)").cast("long")
                  .alias("latest_doc_id")))


WEB_URL_DEDUP_SQL = """
    WITH pages AS (%s),
    canon AS (
        SELECT doc_id, url, warc_ts, %s AS canonical_url FROM pages
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_captures,
           min(url) AS first_raw_url,
           CAST(arg_max(doc_id, warc_ts) AS BIGINT) AS latest_doc_id
    FROM canon
    GROUP BY canonical_url
""" % (_PAGES_SQL, _canon_sql("duckdb"))


QUERIES = {
    "web_url_dedup": (url_dedup, WEB_URL_DEDUP_SQL),
}
