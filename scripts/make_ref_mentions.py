#!/usr/bin/env python
"""Export the REFERENCE engine's mentions for the synthetic corpus as a
committed parquet fixture — the hard oracle for the driver's kg_mentions
query (sandbox-only generator; the fixture itself is committed).

The kg_mentions Spark query runs the full distributed path (html ->
extract -> kernel_stage -> mentions_view) over ``n_docs(sf_dir)`` pages;
this export runs the reference engine (fresh instance per document, so
its cross-document hasa leakage cannot contaminate rows) over the same
``build_document`` conllu with the same model, emitting the exact
columns kg_mentions selects.  DuckDB then reads the fixture verbatim —
a reference-implementation twin rather than a SQL re-derivation.

Raw group ids are exported unmapped: the kernel's per-document group
counter matches the reference's exactly (verified on a 40-doc raw-id
check plus the 5,000-doc mention-exact sweep).

Usage: python scripts/make_ref_mentions.py [n_docs] [out.parquet]
"""

import os
import sys
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE = os.environ.get("XRENNER_REFERENCE", "/root/reference")
MODEL = os.environ.get(
    "XRENNER_MODEL", os.path.join(REPO, "xrenner_spark", "models", "web"))

warnings.filterwarnings("ignore")
sys.path.insert(0, REFERENCE)
sys.path.insert(0, REPO)


def main():
    import pyarrow as pa
    import pyarrow.parquet as pq
    from xrenner import Xrenner
    from xrenner_spark.corpus import build_document, build_page

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "tests", "fixtures", "ref_mentions_500.parquet")

    cols = {k: [] for k in ("url", "mark_id", "text", "entity", "agree",
                            "form", "coref_type", "group_id", "sent_num")}
    for doc_id in range(n_docs):
        url = build_page(doc_id)["url"]
        conllu = build_document(doc_id)["conllu"]
        engine = Xrenner(model=MODEL, rule_based=True, no_seq=True)
        engine.analyze(conllu, "none")
        for m in engine.markables:
            cols["url"].append(url)
            cols["mark_id"].append("%d_%d" % (m.start, m.end))
            # verbatim, not stripped: appos-envelope texts carry a trailing
            # space in the reference, and the kernel reproduces it
            cols["text"].append(m.text)
            cols["entity"].append(m.entity)
            cols["agree"].append(m.agree if m.agree is not None else "")
            cols["form"].append(m.form)
            cols["coref_type"].append(m.coref_type)
            cols["group_id"].append(int(m.group))
            cols["sent_num"].append(m.sentence.sent_num)

    table = pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "mark_id": pa.array(cols["mark_id"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "entity": pa.array(cols["entity"], pa.string()),
        "agree": pa.array(cols["agree"], pa.string()),
        "form": pa.array(cols["form"], pa.string()),
        "coref_type": pa.array(cols["coref_type"], pa.string()),
        "group_id": pa.array(cols["group_id"], pa.int64()),
        "sent_num": pa.array(cols["sent_num"], pa.int32()),
    })
    pq.write_table(table, out_path, compression="zstd")
    print("wrote %d mentions for %d docs -> %s" % (len(cols["url"]), n_docs, out_path))


if __name__ == "__main__":
    main()
