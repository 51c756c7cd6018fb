"""The SQL tree-op analogues must agree with a plain-Python computation
over the same tokens (child-info self-join; descendants closure)."""

from xrenner_spark.pipeline import (child_info_sql, descendants_closure_sql,
                                    extract_stage, generate_pages, tokens_stage)


def test_tokens_and_closure_match_python(spark):
    pages = generate_pages(spark, 30, partitions=2)
    tokens = tokens_stage(extract_stage(pages)).persist()
    rows = tokens.collect()
    assert len(rows) > 300

    # python closure
    edges = {}
    for r in rows:
        if r.head > 0:
            edges.setdefault((r.url, r.head), []).append(r.tid)

    def descend(url, tid, acc):
        for child in edges.get((url, tid), []):
            acc.add(child)
            descend(url, child, acc)

    want = set()
    for (url, tid) in edges:
        acc = set()
        descend(url, tid, acc)
        for d in acc:
            want.add((url, tid, d))

    got = {(r.url, r.ancestor, r.descendant)
           for r in descendants_closure_sql(tokens).collect()}
    assert got == want

    # child info: counts per head match python
    want_counts = {(url, tid): len(kids) for (url, tid), kids in edges.items()}
    got_counts = {(r.url, r.tid): r.n_children for r in child_info_sql(tokens).collect()}
    assert got_counts == want_counts
