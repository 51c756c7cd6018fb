#!/usr/bin/env python
"""Generate golden parity fixtures by running the REFERENCE engine
(read-only at /root/reference) over the fixture documents with this
repo's model, dumping its markables/chains as JSON.

Sandbox-only tool: the goldens it writes are committed, so the test
suite never needs the reference at runtime.  A fresh reference engine is
constructed per document so its cross-document hasa leakage
(xrenner_xrenner.py:452-463, never reset) cannot contaminate goldens —
our kernel scopes that state per document by design.

Usage: python scripts/make_goldens.py [docs_dir] [out_dir]
"""

import glob
import io
import json
import os
import sys
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE = os.environ.get("XRENNER_REFERENCE", "/root/reference")
MODEL = os.environ.get(
    "XRENNER_MODEL", os.path.join(REPO, "xrenner_spark", "models", "web"))

warnings.filterwarnings("ignore")
sys.path.insert(0, REPO)
from xrenner_spark.lex import _model_layers, flatten_model  # noqa: E402

if len(_model_layers(MODEL)) > 1:
    # the reference engine reads one full model directory and knows no
    # overlays (models/web_pp is one): hand it a flattened copy.  A full
    # model is used in place, so the path its "unittest" dumps record
    # stays the same.
    import tempfile
    MODEL = flatten_model(MODEL, os.path.join(
        tempfile.mkdtemp(prefix="xrm_flat_"), "xrenner_spark", "models",
        os.path.basename(os.path.normpath(MODEL))))
sys.path.insert(0, REFERENCE)


def mark_span(mark):
    return "%d_%d" % (mark.start, mark.end)


def dump_document(parse_text):
    from xrenner import Xrenner
    engine = Xrenner(model=MODEL, rule_based=True, no_seq=True)
    engine.analyze(parse_text, "none")
    mentions = []
    for m in engine.markables:
        ante = m.antecedent if isinstance(m.antecedent, str) else mark_span(m.antecedent)
        mentions.append({
            "mark_id": mark_span(m),
            "start": m.start, "end": m.end,
            "text": m.text, "core_text": m.core_text,
            "entity": m.entity, "subclass": m.subclass,
            "agree": m.agree if m.agree is not None else "",
            "form": m.form, "definiteness": m.definiteness,
            "cardinality": float(m.cardinality),
            "group": str(m.group),
            "coref_type": m.coref_type,
            "antecedent": "" if ante == "none" else ante,
            "infstat": m.infstat,
            "head_id": int(m.head.id),
            "head_func": m.head.func,
            "head_lemma": m.head.lemma,
            "head_parent": int(m.head.head),
            "sent_num": m.sentence.sent_num,
            "coordinate": bool(m.coordinate),
        })
    return mentions


def dump_formats(parse_text, name="untitled"):
    """Reference serializations (fresh engine per format: the reference
    accumulates hasa counts across analyze() calls, and output_PAULA
    destructively pops the ROOT token from the engine's list)."""
    import tempfile
    from xrenner import Xrenner
    out = {}
    for fmt in ("sgml", "conll", "conll_sent", "onto", "unittest",
                "html", "webanno", "webannotsv"):
        engine = Xrenner(model=MODEL, rule_based=True, no_seq=True)
        out[fmt] = engine.analyze(parse_text, fmt)
    engine = Xrenner(model=MODEL, rule_based=True, no_seq=True)
    engine.analyze(parse_text, "none")
    engine.docname = name
    engine.docpath = tempfile.mkdtemp(prefix="paula_golden_")
    engine.serialize_output("paula")
    paula = {}
    pdir = os.path.join(engine.docpath, name)
    for fn in sorted(os.listdir(pdir)):
        paula[fn] = io.open(os.path.join(pdir, fn), encoding="utf8").read()
    out["paula"] = paula
    return out


def main():
    docs_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "tests/fixtures/docs")
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "tests/fixtures/goldens")
    os.makedirs(out_dir, exist_ok=True)
    for path in sorted(glob.glob(os.path.join(docs_dir, "*.conllu"))):
        name = os.path.splitext(os.path.basename(path))[0]
        parse = io.open(path, encoding="utf8").read()
        mentions = dump_document(parse)
        out = {"doc": name, "mentions": mentions, "formats": dump_formats(parse, name)}
        with io.open(os.path.join(out_dir, name + ".json"), "w", encoding="utf8") as fh:
            json.dump(out, fh, indent=1, ensure_ascii=False)
        print("%-28s %3d mentions" % (name, len(mentions)))


def corpus_goldens(n_docs=80):
    """Reference mentions for the first n synthetic corpus documents —
    the triple-P/R oracle fixture."""
    from xrenner_spark.corpus import build_document
    out = {}
    for doc_id in range(n_docs):
        doc = build_document(doc_id)
        out[str(doc_id)] = {"mentions": dump_document(doc["conllu"])}
    out_path = os.path.join(REPO, "tests/fixtures/goldens_corpus.json")
    with io.open(out_path, "w", encoding="utf8") as fh:
        json.dump(out, fh, ensure_ascii=False)
    n_mentions = sum(len(v["mentions"]) for v in out.values())
    print("corpus goldens: %d docs, %d mentions -> %s" % (n_docs, n_mentions, out_path))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "corpus":
        corpus_goldens(int(sys.argv[2]) if len(sys.argv) > 2 else 80)
    else:
        main()
