"""The KG stages against their DuckDB twins: the same row count,
column names and order-insensitive value hash that
``scripts/check_oracles.py`` requires, on the default scale-factor
directory of ``__spark_entry__`` (skipped when it is absent)."""

import os

import pytest

import __spark_entry__ as entry
from scripts.check_oracles import compare

SF_DIR = entry._SF0001

pytestmark = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                reason="scale-factor test data absent")


@pytest.mark.parametrize("name", ["kg_triples", "kg_chains", "kg_tokens",
                                  "kg_pagerank"])
def test_kg_query_matches_duckdb_oracle(spark, name):
    import duckdb
    sdf = entry.queries()[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        rel = con.sql(entry.oracle_sql()[name])
        ocols, orows = rel.columns, rel.fetchall()
    finally:
        con.close()
    assert srows
    assert compare(srows, sdf.columns, orows, ocols) == (True, True, True)
