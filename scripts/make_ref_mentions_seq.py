#!/usr/bin/env python
"""Export the REFERENCE engine's mentions for the synthetic corpus under
the sequencer-enabled ``models/web_seq`` variant — the hard oracle for
the driver's kg_mentions_seq query (sandbox-only generator; the fixture
itself is committed).

The reference's own Sequencer class (xrenner_sequence.py:155-267) can
only wrap flair/CRFSuite blobs, whose runtimes are absent here (for the
reference too), so the reference engine is constructed with no_seq=True
and this repo's deterministic LexiconSequencer is attached to its lex
afterwards — the reference consumes it through the identical
``predict_proba(sentence_texts)`` surface (xrenner_xrenner.py:159-163)
and ``model_type`` attribute, so every sequencer consumption site in
the reference runs for real:

* "O"-suppression of markable heads     (xrenner_xrenner.py:471-474)
* pronoun-entity fallback               (xrenner_marker.py:152-156)
* entity override above override_thresh (xrenner_marker.py:186-191)
* disambiguation preference             (xrenner_marker.py:868-873)

``sequencer_override_thresh`` is set in web_seq/config.ini itself, so
the reference's default-assignment branch (xrenner_lex.py:175-176,
skipped under no_seq) is irrelevant — both engines read the same value.

The script also asserts the sequencer actually changes reference output
on the exported corpus slice (otherwise the fixture would silently
degenerate into a second kg_mentions oracle).

``models/web_seq`` is an overlay on ``models/web`` (its config.ini names
the base as ``[model] base=``), which only this repo's loader resolves,
so the reference engine gets a full copy written by
``lex.flatten_model``: the merged config.ini and every base file, with
web_seq's entity_heads.tab and sequencer.json in place of the base's.

Usage: python scripts/make_ref_mentions_seq.py [n_docs] [out.parquet]
"""

import os
import sys
import tempfile
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE = os.environ.get("XRENNER_REFERENCE", "/root/reference")
MODEL = os.environ.get(
    "XRENNER_MODEL", os.path.join(REPO, "xrenner_spark", "models", "web_seq"))

warnings.filterwarnings("ignore")
sys.path.insert(0, REFERENCE)
sys.path.insert(0, REPO)
from xrenner_spark.lex import flatten_model  # noqa: E402

# the reference engine reads one full model directory: flatten the overlay
MODEL = flatten_model(MODEL, tempfile.mkdtemp(prefix="xrm_flat_"))


def ref_mentions(conllu, with_seq):
    from xrenner import Xrenner
    from xrenner_spark.kernel.sequence import LexiconSequencer
    engine = Xrenner(model=MODEL, rule_based=True, no_seq=True)
    if with_seq:
        engine.lex.sequencer = LexiconSequencer.load(
            os.path.join(MODEL, "sequencer.json"))
    engine.analyze(conllu, "none")
    return engine.markables


def main():
    import pyarrow as pa
    import pyarrow.parquet as pq
    from xrenner_spark.corpus import build_document, build_page

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "tests", "fixtures", "ref_mentions_seq_500.parquet")

    cols = {k: [] for k in ("url", "mark_id", "text", "entity", "agree",
                            "form", "coref_type", "group_id", "sent_num")}
    n_divergent_docs = 0
    for doc_id in range(n_docs):
        url = build_page(doc_id)["url"]
        conllu = build_document(doc_id)["conllu"]
        marks = ref_mentions(conllu, with_seq=True)
        baseline = [(m.text, m.entity) for m in ref_mentions(conllu, False)]
        if [(m.text, m.entity) for m in marks] != baseline:
            n_divergent_docs += 1
        for m in marks:
            cols["url"].append(url)
            cols["mark_id"].append("%d_%d" % (m.start, m.end))
            # verbatim, not stripped (see make_ref_mentions.py)
            cols["text"].append(m.text)
            cols["entity"].append(m.entity)
            cols["agree"].append(m.agree if m.agree is not None else "")
            cols["form"].append(m.form)
            cols["coref_type"].append(m.coref_type)
            cols["group_id"].append(int(m.group))
            cols["sent_num"].append(m.sentence.sent_num)

    if n_divergent_docs == 0:
        raise SystemExit("sequencer changed NOTHING on %d docs — fixture "
                         "would not exercise the integration" % n_docs)

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
    print("wrote %d mentions for %d docs (%d sequencer-divergent) -> %s"
          % (len(cols["url"]), n_docs, n_divergent_docs, out_path))


if __name__ == "__main__":
    main()
