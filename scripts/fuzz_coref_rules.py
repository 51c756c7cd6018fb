#!/usr/bin/env python
"""Differential fuzz for the coref-rule compiler: RANDOM coref_rules.tab
configs x random documents, this repo's kernel vs the reference engine,
mention-exact (sandbox-only; exits nonzero on first divergence).

depedit_lite earned an 11,000-config differential fuzz in round 4; the
rule constraint mini-language (rules.py — property tests with
literal/regex/anchored values, negation, $1-relative tests, the
same(parent|speaker|sentence) family, last[agree], mod / has_child_func,
group-failure ``*``, directives, 4-6 field rules) is the other
config-driven engine.  This generator draws from every construct class
the reference's ConstraintMatcher parses, INCLUDING its silent quirks:

* unknown bare-word constraints are always-TRUE ("" == "");
* unknown key=value constraints are always-False before negation;
* any $-key outside the implemented set compares "" to the raw "$n";
* literal ``sentence=...`` constraints test the full Sentence repr
  string ("S1 from T1, mood: ..., speaker: ..., type: ...").

Out of scope (generator never emits them, documented divergence): values
containing ``=`` — the reference's ``constraint.split("=")`` crashes at
LOAD time on them (no maxsplit, xrenner_rule.py:47); we parse with
maxsplit=1 and accept.  Values containing ``;`` or ``&`` are impossible
by construction (rule/constraint splitting happens first) and invalid
regexes fail both loaders identically.

Documents are self_diff.py's random dependency forests.  Mismatches are
retried against heap-perturbed reference re-runs (the reference's
antecedent score-tie nondeterminism — see
``git show 5ce8ac4:scripts/fuzz_kernel.py``); a case counts as divergent
only if the reference never produces our reading.

Usage: python scripts/fuzz_coref_rules.py [n_configs] [seed] [--fixture]
  --fixture writes the first 25 link-producing cases (with the
  REFERENCE's outputs) to tests/fixtures/coref_rules_fuzz.json so pytest
  re-pins them without needing the reference at test time.
"""

import io
import json
import os
import random
import shutil
import sys
import tempfile
import warnings

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.environ.get("XRENNER_REFERENCE", "/root/reference"))
sys.path.insert(0, REPO)
warnings.filterwarnings("ignore")

MODEL = os.path.join(REPO, "xrenner_spark/models/web")

FORMS = ["proper", "common", "pronoun"]
ENTITIES = ["person", "place", "organization", "object", "abstract",
            "animal", "time", "event", "zork"]
AGREES = ["male", "female", "neuter", "plural", "inanim", "1sg", "1pl",
          "2sg", "Plur"]
POSES = ["NOUN", "PROPN", "PRON", "VERB", "DET", "ADJ", "NUM"]
FUNCS = ["nsubj", "obj", "det", "amod", "conj", "appos", "nmod",
         "nmod:poss", "root", "compound"]
WORDS = ["cat", "dog", "bank", "report", "the", "she", "it", "Ada",
         "Paris", "zorblax", "treaty"]


def _value_for(rng, key):
    if key == "form":
        return rng.choice(FORMS)
    if key in ("entity", "subclass"):
        return rng.choice(ENTITIES)
    if key == "agree":
        return rng.choice(AGREES)
    if key == "pos":
        return rng.choice(POSES)
    if key == "func":
        return rng.choice(FUNCS)
    if key == "quoted":
        return rng.choice(["True", "False"])
    if key == "mood":
        return rng.choice(["question", ""])
    if key == "speaker":
        return rng.choice(["Ada", "Bob", ""])
    if key == "cardinality":
        return rng.choice(["2.0", "2", "0.0", "3.0"])
    if key == "sentence":
        return rng.choice(["mood: question", "speaker: Ada", "type: q",
                           "S1 from"])
    return rng.choice(WORDS)


def _wrap_value(rng, key, val):
    """Literal / quoted / regex / anchored-regex forms of a value."""
    r = rng.random()
    if key == "sentence":
        # only regex makes sense against the long repr string
        return "/%s/" % re.escape(val) if rng.random() < 0.5 else "/%s/" % val
    if r < 0.3:
        return '"%s"' % val
    if r < 0.5:
        return val
    if r < 0.6:
        return "/%s/" % val
    if r < 0.7:
        return "/^%s/" % val
    if r < 0.8:
        return "/%s$/" % val
    if r < 0.9:
        return "/^%s$/" % val
    # genuine regex: alternation with another same-key value
    return "/(%s|%s)/" % (val, _value_for(rng, key))


import re  # noqa: E402  (used by _wrap_value)

PROP_KEYS = ["form", "text", "agree", "entity", "subclass", "cardinality",
             "text_lower", "lemma", "pos", "func", "quoted", "mood",
             "speaker", "sentence"]
DIRECTIVES = ["anytext", "anyagree", "anycardinality", "anyentity",
              "lookahead", "takefirst", "take_first", "none"]


def rand_constraint(rng, ante_side):
    r = rng.random()
    if r < 0.55:  # property test
        key = rng.choice(PROP_KEYS)
        neg = "!" if rng.random() < 0.2 else ""
        if ante_side and rng.random() < 0.25:
            spec = "%s%s=$1" % (key, neg)
        else:
            spec = "%s%s=%s" % (key, neg, _wrap_value(rng, key,
                                                      _value_for(rng, key)))
    elif r < 0.65 and ante_side:  # same-family
        fam = rng.choice(["sameparent", "samespeaker", "samesentence"])
        spec = ("!" if rng.random() < 0.4 else "") + fam
    elif r < 0.72 and ante_side:  # structural $-tests
        spec = rng.choice(["head=$1", "child=$1", "hasa=$1", "mod=$1"])
    elif r < 0.78:  # lexical modifier / child function
        if rng.random() < 0.5:
            spec = "mod=%s" % rng.choice(WORDS)
        else:
            spec = "has_child_func=%s" % rng.choice(
                ['"%s"' % rng.choice(FUNCS), rng.choice(FUNCS)])
    elif r < 0.84 and ante_side:  # last[agree-class]
        spec = "last[%s]" % rng.choice(AGREES + ["nosuch"])
    elif r < 0.92:  # directive
        spec = rng.choice(DIRECTIVES)
    else:  # reference quirk surface: unknown keys / bare words
        spec = rng.choice(["zorble", "frobnicate",
                           "foo=bar", "foo!=bar", "foo=$1",
                           "quux=/^x/", "hasa=cat"])
    if ante_side and rng.random() < 0.15 and not spec.endswith("*"):
        spec += "*"
    return spec


# Productive seeds — shapes known to fire on the random docs (drawn from
# the shipped models/web rules), so the fuzz exercises MATCHING rules (and
# their propagation/group-merge semantics), not just non-matching ones.
# Perturbed below by appending random constraints to either side.
PRODUCTIVE = [
    ("form=pronoun", "form!=pronoun"),
    ("form=pronoun", "text=$1"),
    ("form=pronoun", 'func=/^[nc]subj/'),
    ('form="proper"', 'form="proper"&text=$1&take_first'),
    ("none", "none"),
    ("agree=/^1/", "agree=/^1/&samespeaker"),
    ('func="appos"', 'has_child_func="appos"&entity=$1&anyagree'),
    ("form=pronoun", "entity=$1"),
    ("form=pronoun", "agree=$1"),
    ("pos=/^(NOUN|PROPN)/", "text_lower=$1"),
]


def rand_rules(rng):
    lines = []
    for _ in range(rng.randint(1, 5)):
        if rng.random() < 0.45:  # perturbed productive template
            ana, ante = rng.choice(PRODUCTIVE)
            if rng.random() < 0.4:
                ana += "&" + rand_constraint(rng, False)
            if rng.random() < 0.4:
                ante += "&" + rand_constraint(rng, True)
        else:
            n_ana = rng.randint(1, 3)
            n_ante = rng.randint(1, 3)
            ana = "&".join(rand_constraint(rng, False)
                           for _ in range(n_ana))
            ante = "&".join(rand_constraint(rng, True)
                            for _ in range(n_ante))
        dist = rng.randint(0, 8)
        prop = rng.choice(["propagate", "nopropagate", "propagate",
                           "propagate_forward", "propagate_back"])
        fields = [ana, ante, str(dist), prop]
        if rng.random() < 0.1:
            fields.append("_default_")
            if rng.random() < 0.5:
                fields.append("0.5")
        lines.append(";".join(fields))
    return "\n".join(lines) + "\n"


def make_model_dir(rules_text):
    """Temp model dir: symlinks to models/web + the fuzzed rules file."""
    tmp = tempfile.mkdtemp(prefix="coreffuzz_")
    for name in os.listdir(MODEL):
        if name == "coref_rules.tab":
            continue
        os.symlink(os.path.join(MODEL, name), os.path.join(tmp, name))
    with io.open(os.path.join(tmp, "coref_rules.tab"), "w",
                 encoding="utf8") as fh:
        fh.write(rules_text)
    return tmp


def mention_tuples_ref(eng):
    return sorted(
        (m.start, m.end, m.text, m.entity, m.subclass,
         m.agree if m.agree is not None else "", m.form,
         m.definiteness, float(m.cardinality), m.coref_type,
         int(m.group), m.sentence.sent_num)
        for m in eng.markables)


def mention_tuples_ours(res):
    return sorted(
        (m["start"], m["end"], m["text"], m["entity"], m["subclass"],
         m["agree"], m["form"], m["definiteness"], float(m["cardinality"]),
         m["coref_type"], m["group_id"], m["sent_num"])
        for m in res.mentions)


def main():
    from xrenner import Xrenner

    from xrenner_spark import load_lex
    from xrenner_spark.kernel import analyze_document
    from self_diff import forest_doc as rand_doc, vocabulary as load_vocab

    args = [a for a in sys.argv[1:] if a != "--fixture"]
    write_fixture = "--fixture" in sys.argv
    n = int(args[0]) if len(args) > 0 else 500
    seed = int(args[1]) if len(args) > 1 else 7
    rng = random.Random(seed)
    heads, names = load_vocab()

    n_docs = n_links = n_both_raise = n_tie_tolerated = n_loadfail = 0
    fixture_cases = {}
    for trial in range(n):
        rules_text = rand_rules(rng)
        docs = [rand_doc(rng, heads, names)
                for _ in range(rng.randint(1, 2))]
        tmp = make_model_dir(rules_text)
        try:
            our_load_err = ref_load_err = None
            try:
                lex = load_lex(tmp)
            except Exception as e:  # noqa: BLE001
                our_load_err = type(e).__name__
            try:
                Xrenner(model=tmp, rule_based=True, no_seq=True)
            except (SystemExit, Exception) as e:  # noqa: BLE001
                ref_load_err = type(e).__name__
            if (our_load_err is None) != (ref_load_err is None):
                print("DIVERGE(load-shape) trial=%d seed=%d ours=%s ref=%s"
                      % (trial, seed, our_load_err, ref_load_err))
                print(rules_text)
                raise SystemExit(1)
            if our_load_err is not None:
                n_loadfail += 1
                continue

            def ref_run(doc):
                eng = Xrenner(model=tmp, rule_based=True, no_seq=True)
                eng.analyze(doc, "none")
                return mention_tuples_ref(eng)

            for doc in docs:
                n_docs += 1
                ref_err = our_err = None
                theirs = ours = None
                try:
                    theirs = ref_run(doc)
                except (SystemExit, Exception) as e:  # noqa: BLE001
                    ref_err = type(e).__name__
                try:
                    ours = mention_tuples_ours(
                        analyze_document("fuzz", doc, lex))
                except (SystemExit, Exception) as e:  # noqa: BLE001
                    our_err = type(e).__name__
                # raise-vs-not must agree; exact exception TYPE need not
                # (the reference raises bare Exception where we raise
                # ValueError, e.g. head=VAL / has_child_func=$1)
                if (ref_err is None) != (our_err is None):
                    print("DIVERGE(error-shape) trial=%d seed=%d "
                          "ref=%s ours=%s" % (trial, seed, ref_err, our_err))
                    print("--- rules ---\n%s--- doc ---\n%s"
                          % (rules_text, doc))
                    raise SystemExit(1)
                if ref_err is not None:
                    n_both_raise += 1
                    continue
                if ours != theirs:
                    pad_rng = random.Random(seed * 1_000_003 + trial)
                    matched = False
                    for _retry in range(8):
                        _pad = ["x" * pad_rng.randrange(16, 4096)
                                for _ in range(pad_rng.randrange(1, 64))]
                        try:
                            again = ref_run(doc)
                        except (SystemExit, Exception):  # noqa: BLE001
                            break
                        del _pad
                        if again == ours:
                            matched = True
                            break
                    if matched:
                        n_tie_tolerated += 1
                        continue
                    print("DIVERGE trial=%d seed=%d" % (trial, seed))
                    print("--- rules ---\n%s--- doc ---\n%s"
                          % (rules_text, doc))
                    print("theirs:", theirs)
                    print("ours  :", ours)
                    raise SystemExit(1)
                linked = any(t[9] != "" or t[10] != g0
                             for t, g0 in zip(theirs, [t[10] for t in theirs]))
                if theirs and len({t[10] for t in theirs}) < len(theirs):
                    n_links += 1
                    if write_fixture and len(fixture_cases) < 25:
                        fixture_cases["rulefuzz_s%d_t%d_%d"
                                      % (seed, trial, n_docs)] = {
                            "rules": rules_text, "input": doc,
                            "mentions": [list(t) for t in theirs]}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print("coref-rule fuzz: %d configs / %d docs, %d with coref links, "
          "%d both-raise, %d load-rejected, %d tie-tolerated, 0 divergent "
          "(seed=%d)" % (n, n_docs, n_links, n_both_raise, n_loadfail,
                         n_tie_tolerated, seed))
    if write_fixture:
        path = os.path.join(REPO, "tests", "fixtures",
                            "coref_rules_fuzz.json")
        with io.open(path, "w", encoding="utf8") as fh:
            json.dump(fixture_cases, fh, indent=1, ensure_ascii=False)
        print("wrote %d fixture cases -> %s" % (len(fixture_cases), path))


if __name__ == "__main__":
    main()
