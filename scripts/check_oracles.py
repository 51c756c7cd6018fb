#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet tables, compare row count + column names + an
order-insensitive value hash.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_value(v):
    if isinstance(v, float):
        return "%.6f" % v
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(norm_value(row[i]) for i in order) for row in rows)
    return hashlib.md5("\n".join(lines).encode("utf8")).hexdigest()


def compare(srows, scols, orows, ocols):
    """(row count, column names, value hash) agreement of a Spark result
    with its oracle's; the hash is checked only when the columns agree."""
    ok_count = len(srows) == len(orows)
    ok_cols = sorted(c.lower() for c in scols) == sorted(c.lower() for c in ocols)
    ok_hash = ok_cols and value_hash(srows, [c.lower() for c in scols]) == \
        value_hash(orows, [c.lower() for c in ocols])
    return ok_count, ok_cols, ok_hash


def main():
    import duckdb
    import __spark_entry__ as entrymod
    from xrenner_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')"
                % (t, SF_DIR, t))

    qdict = entrymod.queries()
    odict = entrymod.oracle_sql()
    failures = []
    for name, fn in sorted(qdict.items()):
        if ONLY and name not in ONLY:
            continue
        spark.catalog.clearCache()  # operator-internal caches must not leak
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures.append(name)
            print("%-24s SPARK ERROR: %r" % (name, exc))
            continue
        if name not in odict:
            print("%-24s rows-only: %6d rows  (%.1fs)" % (name, len(srows), time.time() - t0))
            if len(srows) == 0 and name != "kg_extract_invariant":
                failures.append(name)
                print("%-24s EMPTY RESULT" % name)
            continue
        try:
            rel = con.sql(odict[name])
            ocols = [c for c in rel.columns]
            orows = rel.fetchall()
        except Exception as exc:
            failures.append(name)
            print("%-24s DUCKDB ERROR: %r" % (name, exc))
            continue
        ok_count, ok_cols, ok_hash = compare(srows, scols, orows, ocols)
        status = "OK " if (ok_count and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print("%-24s %s rows %6d/%6d cols=%s hash=%s (%.1fs)"
              % (name, status, len(srows), len(orows), ok_cols, ok_hash,
                 time.time() - t0))
        if status == "FAIL" and ok_cols:
            sset = {tuple(norm_value(v) for v in r) for r in srows}
            oset = {tuple(norm_value(v) for v in r) for r in orows}
            print("   only-spark:", list(sset - oset)[:3])
            print("   only-duck: ", list(oset - sset)[:3])
        elif status == "FAIL":
            print("   spark cols:", scols, " duck cols:", ocols)
    print("\n%d failures" % len(failures), failures)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
