"""Pinned coref-rule differential-fuzz cases.

A fuzzer ran 5,000 random coref_rules.tab configs (~7,500 random docs,
8 seeds + the fixture seed) against the reference engine with 0
divergences; these 25 link-producing samples pin that surface — random
constraint mini-language programs (literal / quoted / regex / anchored
values, negation, $1-relative tests, same-family, last[], mod /
has_child_func, group-failure ``*``, directives, and the reference's
silent unknown-key quirks) — WITHOUT needing the reference at test
time.  The mentions are reference outputs, made by
``git show cb51f14:scripts/fuzz_coref_rules.py`` (``1000 7 --fixture``);
the live gate for random rule configs is now the ``rules`` family of
scripts/self_diff.py.
"""

import importlib.util
import json
import os

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
MODEL = os.path.join(HERE, "..", "xrenner_spark", "models", "web")
_spec = importlib.util.spec_from_file_location(
    "self_diff", os.path.join(HERE, "..", "scripts", "self_diff.py"))
self_diff = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(self_diff)


def _fuzz_cases():
    path = os.path.join(HERE, "fixtures", "coref_rules_fuzz.json")
    with open(path, encoding="utf8") as fh:
        return sorted(json.load(fh).items())


def _mention_tuples(res):
    return sorted(
        [m["start"], m["end"], m["text"], m["entity"], m["subclass"],
         m["agree"], m["form"], m["definiteness"], float(m["cardinality"]),
         m["coref_type"], m["group_id"], m["sent_num"]]
        for m in res.mentions)


@pytest.mark.parametrize("name,case", _fuzz_cases(),
                         ids=[n for n, _ in _fuzz_cases()])
def test_rule_fuzz_cases_match_reference(name, case):
    from xrenner_spark import load_lex
    from xrenner_spark.kernel import analyze_document

    with self_diff.replaced_model(MODEL, "coref_rules.tab", case["rules"]) as path:
        lex = load_lex(path)
        ours = _mention_tuples(analyze_document("fuzz", case["input"], lex))
    expected = sorted([list(m) for m in case["mentions"]])
    assert ours == expected
