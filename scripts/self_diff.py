#!/usr/bin/env python
"""Kernel self-differential: this checkout's per-document kernel against
the kernel of a pinned commit, document by document.

Every input is generated once, by this checkout:

- ``corpus``     corpus.build_document docs 0..n-1 (under each model)
- ``forest``     random dependency forests over the model's gazetteer
                 heads and names plus junk tokens; random funcs, morphs,
                 quotes, speakers, pronouns anywhere, some head cycles
- ``adversarial`` empty / whitespace / comment-only documents, then
                 corpus documents with unicode spliced in, malformed lines
                 (truncated, non-numeric id, stray text, doubled blanks)
                 or a supertoken id
- ``whitespace`` short documents of whitespace-only lines, blank-line
                 runs, comments and multiword/ellipsis ids around tokens
- ``windowed``   corpus sentences concatenated to 6-40 sentences, analyzed
                 with a small ``max_sentences`` and ``overlap`` so the
                 windowed stitcher runs; every 50th document has 120-1,200
                 sentences and the default windows (500 sentences, the
                 longest rule distance as overlap)
- ``rules``      one random coref_rules.tab per forest document (rules.py's
                 constraint language, shipped rule shapes among them; half
                 open with a ``*`` group failure before a linking rule)
- ``depedit``    one random depedit.ini per forest document (depedit_lite's
                 nodes, relations, half of them distance bands, actions
                 and ``{var}`` lines)

Both sides fingerprint each document with ``fingerprint`` — depedit, the
(windowed) kernel, parse_verbs and read_document, APIs both trees have —
one side importing this checkout's xrenner_spark, the other the commit's,
unpacked by ``git archive`` into a temp dir; each side runs in
subprocesses whose PYTHONPATH is its tree.  A ``rules`` or ``depedit``
document runs under the side's own models/web with that one file
replaced (a temp directory), and its fingerprint adds depedit's output.
A mismatch names its family, model and index, and prints the document
and its config.

``--fingerprints`` writes tests/fixtures/kernel_fingerprints.json instead:
per 100-document block, the md5 of the inputs and of the REV kernel's
fingerprints, for tests/test_kernel_fingerprints.py to recompute.

Usage:
    python scripts/self_diff.py [REV]                  # diff, exit 1 on any mismatch
    python scripts/self_diff.py --fingerprints [REV]   # rewrite the fixture from REV

REV defaults to 5ce8ac4, the last commit whose kernel passed the
differential sweeps against the reference engine (their scripts:
``git show 5ce8ac4:scripts/parity_sweep.py`` and siblings) and the
random-config fuzzers (``git show cb51f14:scripts/fuzz_coref_rules.py``,
``fuzz_depedit.py``), whose generators the ``rules`` and ``depedit``
families reuse.  After an intended change of kernel output, commit it
and run ``--fingerprints HEAD``.  Nothing is written into the checkout except by
``--fingerprints``.
"""

import hashlib
import io
import json
import os
import random
import re
import shutil
import subprocess
import sys
import tarfile
import tempfile
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PINNED_REV = "5ce8ac4"
FIXTURE = os.path.join(REPO, "tests", "fixtures", "kernel_fingerprints.json")
BLOCK = 100

#: (family, model, documents): the diff's inputs, and the fixture's
FAMILIES = [
    ("corpus", "web", 20000),
    ("corpus", "web_pp", 2000),
    ("corpus", "web_seq", 2000),
    ("forest", "web", 2000),
    ("forest", "web_seq", 1000),
    ("adversarial", "web", 2000),
    ("whitespace", "web", 2000),
    ("windowed", "web", 1000),
    ("rules", "web", 2000),
    ("depedit", "web", 2000),
]


# ---------------------------------------------------------------------
# the fingerprint, identical on both sides
# ---------------------------------------------------------------------

def fingerprint(conllu, lex, max_sentences=500, overlap=None, rewritten=False):
    """md5 of what the kernel makes of one document — its mention rows,
    verb rows and sentence and token counts — and of read_document's
    parse of the text as given; each an exception class if it raises.
    ``rewritten`` adds depedit's output, whose lemma or morph rewrites
    no mention row need show."""
    from xrenner_spark.kernel import analyze_document_windowed
    from xrenner_spark.kernel.parsing import read_document
    from xrenner_spark.triples import parse_verbs

    def depedit():
        return lex.depedit.run(conllu) if lex.depedit is not None else conllu

    def kernel():
        text = depedit()
        res = analyze_document_windowed("doc", text, lex, max_sentences=max_sentences,
                                        pre_rewritten=True, overlap=overlap)
        return ([sorted(m.items()) for m in res.mentions],
                sorted(parse_verbs(text).items()), res.n_sentences, res.n_tokens)

    outcomes = (_outcome(kernel), _outcome(lambda: _parse(read_document(conllu, lex))))
    if rewritten:
        outcomes += (_outcome(depedit),)
    return _md5(repr(outcomes))


def _outcome(run):
    try:
        return run()
    except Exception as exc:  # noqa: BLE001 - a raise is an outcome too
        return ("raises", type(exc).__name__)


def _parse(doc):
    """read_document's tokens, sentences and dependency maps.  Taken
    before depedit, which drops the whitespace-only edge lines
    read_document must align; sentence texts feed the sequencer and the
    entity oracle, and no mention row shows them."""
    return ([(t.tid, t.text, t.lemma, t.pos, t.morph, t.head, t.func, t.quoted,
              t.sentence.sent_num) for t in doc.tokens[1:]],
            [(s.sent_num, s.start_offset, s.token_count, s.length, s.text, s.speaker,
              s.s_type, s.mood) for s in doc.sentences],
            sorted(doc.lemma_freqs.items()), doc.token_count,
            sorted((k, tuple(v)) for k, v in doc.children.items()),
            sorted((k, tuple(v)) for k, v in doc.child_funcs.items()))


def _md5(text):
    return hashlib.md5(text.encode("utf8")).hexdigest()


def model_dir(model):
    """A bundled model of whichever xrenner_spark is imported."""
    import xrenner_spark
    return os.path.join(os.path.dirname(xrenner_spark.__file__), "models", model)


@contextmanager
def replaced_model(src, name, text):
    """A temp model directory: symlinks to the files of the full model
    directory ``src``, but model file ``name`` holding ``text``."""
    tmp = tempfile.mkdtemp(prefix="model_")
    try:
        for fname in os.listdir(src):
            if fname != name:
                os.symlink(os.path.join(src, fname), os.path.join(tmp, fname))
        with io.open(os.path.join(tmp, name), "w", encoding="utf8") as fh:
            fh.write(text)
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def job_fingerprints(jobs):
    """The fingerprint of each (model, conllu, max_sentences, overlap)
    job with the importable tree.  A job that adds (model file, text)
    runs under its model with that file replaced, and its fingerprint
    adds depedit's output; a config that fails to load fingerprints as
    its exception class."""
    from xrenner_spark import load_lex
    lexes, digests = {}, []
    for model, conllu, max_sentences, overlap, *config in jobs:
        if not config:
            if model not in lexes:
                lexes[model] = load_lex(model_dir(model))
            digests.append(fingerprint(conllu, lexes[model], max_sentences, overlap))
            continue
        with replaced_model(model_dir(model), *config) as path:
            try:
                lex = load_lex(path)
            except Exception as exc:  # noqa: BLE001 - a load failure is an outcome too
                digests.append(_md5(repr(("raises", type(exc).__name__))))
                continue
            digests.append(fingerprint(conllu, lex, max_sentences, overlap, rewritten=True))
    return digests


def run_side(jobs_path, out_path):
    """Subprocess entry: job_fingerprints of a job file."""
    import xrenner_spark
    with io.open(jobs_path, encoding="utf8") as fh:
        jobs = json.load(fh)
    with io.open(out_path, "w", encoding="utf8") as fh:
        json.dump({"tree": os.path.dirname(os.path.dirname(xrenner_spark.__file__)),
                   "digests": job_fingerprints(jobs)}, fh)


# ---------------------------------------------------------------------
# input generators (this checkout only)
# ---------------------------------------------------------------------

POS = ["NOUN", "VERB", "DET", "ADJ", "ADV", "PROPN", "PRON", "PUNCT",
       "NUM", "ADP", "CCONJ", "PART"]
FUNCS = ["nsubj", "obj", "det", "amod", "advmod", "conj", "punct", "nmod",
         "appos", "flat", "compound", "cc", "case", "nummod", "acl:relcl",
         "nmod:poss", "cop", "aux", "dep", "xcomp", "mark", "parataxis"]
MORPHS = ["_", "Number=Plur", "Gender=Fem", "Gender=Masc",
          "Gender=Neut|Number=Plur", "Tense=Past"]
JUNK = ["zorblax", "flumph", "qwerty", "x1", "...", "“", "”", "—", "don't",
        "U.S.", "re-do", "3,000", "½"]
PRONOUNS = ["he", "she", "it", "they", "him", "her", "them", "his", "its",
            "I", "you", "we"]
EMPTY_DOCS = ["", "\n", "\n\n\n", " \n\t\n", "# speaker=Mary\n\n# s_type=decl\n",
              "# only a comment"]


def _token(i, form, lemma, pos, morph, head, func):
    return "%s\t%s\t%s\t%s\t%s\t%s\t%d\t%s\t_\t_" % (i, form, lemma, pos, pos,
                                                  morph, head, func)


def vocabulary():
    """Gazetteer heads and first names of this checkout's web model."""
    base = os.path.join(REPO, "xrenner_spark", "models", "web")

    def column(name):
        with io.open(os.path.join(base, name), encoding="utf8") as fh:
            return [ln.split("\t")[0] for ln in fh if "\t" in ln and not ln.startswith("#")]
    return column("entity_heads.tab")[:400], [n.split(" ")[0] for n in column("names.tab")[:200]]


def forest_doc(rng, heads, names):
    """1-5 sentences of 1-10 tokens; heads mostly earlier tokens, one in
    five arbitrary (cycles: both sides must raise alike)."""
    sents = []
    for _s in range(rng.randint(1, 5)):
        lines = []
        if rng.random() < 0.25:
            lines.append("# speaker=%s" % rng.choice(["Ada", "Bob", "x y"]))
        if rng.random() < 0.15:
            lines.append("# s_type=%s" % rng.choice(["decl", "q", "wh"]))
        n = rng.randint(1, 10)
        root = rng.randint(1, n)
        for i in range(1, n + 1):
            pos = rng.choice(POS)
            if pos == "PRON":
                w = rng.choice(PRONOUNS)
            elif pos == "PROPN":
                w = rng.choice(names + ["Zorbia"])
            elif pos == "NOUN":
                w = rng.choice(heads + JUNK)
            elif pos == "PUNCT":
                w = rng.choice([".", ",", '"', "?", ";", "“", "”"])
            else:
                w = rng.choice(heads + JUNK + ["the", "a", "signed", "big"])
            if i == root:
                head, func = 0, "root"
            else:
                if rng.random() < 0.8:
                    pool = list(range(1, i)) or [root]
                else:
                    pool = [j for j in range(1, n + 1) if j != i]
                head = rng.choice(pool)
                func = rng.choice(FUNCS)
            lemma = w.lower() if rng.random() < 0.8 else w
            lines.append(_token(i, w, lemma, pos, rng.choice(MORPHS), head, func))
        sents.append("\n".join(lines))
    return "\n\n".join(sents) + "\n"


def _token_lines(lines):
    return [i for i, ln in enumerate(lines) if "\t" in ln]


def mutate_unicode(conllu, k):
    form, new = [("the", "“the”"), ("a", "—a"), ("report", "réport"),
                 ("Mary", "Máry"), (".", "…")][k % 5]
    out = []
    for line in conllu.split("\n"):
        cols = line.split("\t")
        if len(cols) >= 8 and cols[1] == form:
            cols[1] = new
        out.append("\t".join(cols))
    return "\n".join(out)


def mutate_malformed(conllu, k):
    lines = conllu.split("\n")
    tokens = _token_lines(lines)
    i = tokens[k % len(tokens)]
    kind = k % 4
    if kind == 0:    # truncated line (< 10 columns)
        lines[i] = "\t".join(lines[i].split("\t")[:6])
    elif kind == 1:  # non-numeric id
        lines[i] = "x" + lines[i]
    elif kind == 2:  # stray text line mid-sentence
        lines.insert(i, "stray text line without tabs")
    else:            # doubled blank lines at a sentence boundary
        blanks = [j for j, ln in enumerate(lines) if not ln.strip()] or [len(lines)]
        j = blanks[k % len(blanks)]
        lines[j:j] = ["", ""]
    return "\n".join(lines)


def mutate_supertoken(conllu, k):
    lines = conllu.split("\n")
    i = _token_lines(lines)[k % 2]
    form = lines[i].split("\t")[1]
    lines.insert(i, "\t".join(["1-2", form + "x"] + ["_"] * 8))
    if k % 3 == 0:  # and an ellipsis token after it
        lines.insert(i + 2, "\t".join(["1.1", "gone", "go", "VERB"] + ["_"] * 6))
    return "\n".join(lines)


def whitespace_doc(rng):
    words = ["Ada", "Lovelace", "the", "report", "liked", "a", "lot", "it", "He"]
    pos = ["NOUN", "PROPN", "VERB", "DET", "PRON", "ADP"]
    lines = [rng.choice(["", " ", "  "]) for _ in range(rng.randint(0, 3))]
    for _s in range(rng.randint(0, 4)):
        if rng.random() < 0.4:
            lines.append("# speaker = spk%d" % rng.randint(1, 3))
        if rng.random() < 0.2:
            lines.append("# s_type = decl")
        if rng.random() < 0.15:
            lines.append(" ")
        n = rng.randint(1, 5)
        for t in range(1, n + 1):
            w, p = rng.choice(words), rng.choice(pos)
            head = rng.randint(0, n)
            tid = str(t)
            if rng.random() < 0.05:
                tid = "%d-%d" % (t, t + 1)
            elif rng.random() < 0.05:
                tid = "%d.1" % t
            lines.append(_token(tid, w, w.lower(), p, "_", 0 if head == t else head, "dep"))
        lines.extend([""] * rng.randint(1, 3))
        if rng.random() < 0.15:
            lines.append(rng.choice([" ", "  "]))
            lines.extend([""] * rng.randint(0, 2))
    lines.extend(rng.choice(["", " ", "  "]) for _ in range(rng.randint(0, 3)))
    return "\n".join(lines)


# random configs: coref_rules.tab (rules.py's constraint language) and
# depedit.ini (depedit_lite's rule language); the generators of the
# fuzzers that diffed them against the reference engine
# (git show cb51f14:scripts/fuzz_coref_rules.py, fuzz_depedit.py)

FORMS = ["proper", "common", "pronoun"]
ENTITIES = ["person", "place", "organization", "object", "abstract",
            "animal", "time", "event", "zork"]
AGREES = ["male", "female", "neuter", "plural", "inanim", "1sg", "1pl",
          "2sg", "Plur"]
RULE_WORDS = ["cat", "dog", "bank", "report", "the", "she", "it", "Ada",
              "Paris", "zorblax", "treaty"]
PROP_KEYS = ["form", "text", "agree", "entity", "subclass", "cardinality",
             "text_lower", "lemma", "pos", "func", "quoted", "mood",
             "speaker", "sentence"]
DIRECTIVES = ["anytext", "anyagree", "anycardinality", "anyentity",
              "lookahead", "takefirst", "take_first", "none"]
#: rule shapes that fire on forest documents, most of them from the
#: shipped rules, so that matching rules (propagation, group merges,
#: ``*`` blacklists) are drawn, not only non-matching ones
PRODUCTIVE = [
    ("form=pronoun", "form!=pronoun"),
    ("form=pronoun", "text=$1&!sameparent*"),
    ("form=pronoun", "func=/^[nc]subj/&!sameparent*"),
    ('form="proper"', 'form="proper"&text=$1&take_first'),
    ("none", "none"),
    ("agree=/^1/", "agree=/^1/&samespeaker"),
    ('func="appos"', 'has_child_func="appos"&entity=$1&anyagree'),
    ("form=pronoun", "entity=$1"),
    ("form=pronoun", "agree=$1"),
    ("pos=/^(NOUN|PROPN)/", "text_lower=$1"),
    ("form=pronoun", "anyentity&anyagree"),
    ("form=proper", "anytext"),
]


def _rule_value(rng, key):
    choices = {"form": FORMS, "entity": ENTITIES, "subclass": ENTITIES,
               "agree": AGREES, "pos": POS, "func": FUNCS,
               "quoted": ["True", "False"], "mood": ["question", ""],
               "speaker": ["Ada", "Bob", ""],
               "cardinality": ["2.0", "2", "0.0", "3.0"],
               "sentence": ["mood: question", "speaker: Ada", "type: q", "S1 from"]}
    return rng.choice(choices.get(key, RULE_WORDS))


def _wrap_value(rng, key, val):
    """A value as literal, quoted, regex or anchored regex."""
    if key == "sentence":  # only a regex fits the Sentence repr it tests
        return "/%s/" % (re.escape(val) if rng.random() < 0.5 else val)
    r = rng.random()
    if r < 0.3:
        return '"%s"' % val
    if r < 0.5:
        return val
    if r < 0.9:
        return rng.choice(["/%s/", "/^%s/", "/%s$/", "/^%s$/"]) % val
    return "/(%s|%s)/" % (val, _rule_value(rng, key))


def rand_constraint(rng, ante_side):
    """One constraint: property test (negated, ``$1``-relative), same-
    family, structural ``$1`` test, mod / has_child_func, last[agree],
    directive, or an unknown key or bare word (the reference's silent
    always-true / always-false quirks); ``*`` group failure on the
    antecedent side."""
    r = rng.random()
    if r < 0.55:
        key = rng.choice(PROP_KEYS)
        neg = "!" if rng.random() < 0.2 else ""
        if ante_side and rng.random() < 0.25:
            spec = "%s%s=$1" % (key, neg)
        else:
            spec = "%s%s=%s" % (key, neg, _wrap_value(rng, key, _rule_value(rng, key)))
    elif r < 0.65 and ante_side:
        spec = ("!" if rng.random() < 0.4 else "") + rng.choice(
            ["sameparent", "samespeaker", "samesentence"])
    elif r < 0.72 and ante_side:
        spec = rng.choice(["head=$1", "child=$1", "hasa=$1", "mod=$1"])
    elif r < 0.78:
        if rng.random() < 0.5:
            spec = "mod=%s" % rng.choice(RULE_WORDS)
        else:
            func = rng.choice(FUNCS)
            spec = "has_child_func=%s" % rng.choice(['"%s"' % func, func])
    elif r < 0.84 and ante_side:
        spec = "last[%s]" % rng.choice(AGREES + ["nosuch"])
    elif r < 0.92:
        spec = rng.choice(DIRECTIVES)
    else:
        spec = rng.choice(["zorble", "frobnicate", "foo=bar", "foo!=bar", "foo=$1",
                           "quux=/^x/", "hasa=cat"])
    if ante_side and rng.random() < 0.15:
        spec += "*"
    return spec


#: ``*`` group failures of the ``parent`` key, whose failure on a
#: candidate makes the anaphor refuse the candidate's group, and
#: antecedent shapes that link to most candidates
GROUP_FAILURES = ["!sameparent*", "sameparent*", "parent=$1*", "parent!=$1*"]
LINKING = ["form!=pronoun", "anytext", "anyentity&anyagree", "none",
           "entity=$1", "agree=$1"]


def blacklist_pair(rng):
    """Two rules for one anaphor shape: a ``*`` group failure that seldom
    links itself (a random constraint follows it), then a rule that would
    link into the groups the first refused."""
    ana = rng.choice(PRODUCTIVE)[0]
    distance = str(rng.randint(1, 8))
    return [";".join([ana, rng.choice(GROUP_FAILURES) + "&" + rand_constraint(rng, True),
                      distance, "propagate"]),
            ";".join([ana, rng.choice(LINKING), distance, "propagate"])]


def rand_rules(rng):
    """A coref_rules.tab of 2-6 rules of 4-6 fields, most of them
    PRODUCTIVE shapes, some with a random constraint added; half of the
    configs open with a blacklist_pair."""
    lines = blacklist_pair(rng) if rng.random() < 0.5 else []
    for _ in range(rng.randint(2, 6) - len(lines)):
        if rng.random() < 0.6:
            ana, ante = rng.choice(PRODUCTIVE)
            if rng.random() < 0.3:
                ana += "&" + rand_constraint(rng, False)
            if rng.random() < 0.3:
                ante += "&" + rand_constraint(rng, True)
        else:
            ana = "&".join(rand_constraint(rng, False) for _ in range(rng.randint(1, 3)))
            ante = "&".join(rand_constraint(rng, True) for _ in range(rng.randint(1, 3)))
        fields = [ana, ante, str(rng.randint(0, 8)),
                  rng.choice(["propagate", "nopropagate", "propagate",
                              "propagate_forward", "propagate_back"])]
        if rng.random() < 0.1:
            fields.append("_default_")
            if rng.random() < 0.5:
                fields.append("0.5")
        lines.append(";".join(fields))
    return "\n".join(lines) + "\n"


DEPEDIT_FIELDS = ["text", "pos", "lemma", "func", "morph", "num",
                  "form", "upos", "feats", "deprel", "misc"]


def rand_value(rng):
    return rng.choice([rng.choice(POS), "NOUN|VERB", "(cat|dog)", "(c.t)", "r.*n",
                       "[A-Z].*", "the", "(a|;)", rng.choice(FUNCS)])


def rand_nodedef(rng, variables):
    """A node: 1-2 &-joined criteria (negation, regex, ``{var}``), or
    one ``#S:`` sentence-annotation criterion."""
    crits = []
    for _ in range(rng.randint(1, 2)):
        attr = rng.choice(["pos", "text", "lemma", "func", "morph",
                           "position", "num", "upos", "form"])
        neg = "!" if rng.random() < 0.2 else ""
        if attr == "position":
            val = rng.choice(["first", "last", "mid"])
        elif attr == "num":
            val = str(rng.randint(1, 6))
        elif rng.random() < 0.25 and variables:
            val = "{%s}" % rng.choice(sorted(variables))
        else:
            val = rand_value(rng)
        crits.append("%s%s=/%s/" % (attr, neg, val))
    if rng.random() < 0.15:
        return "#S:%s=/%s/" % (rng.choice(["speaker", "s_type", "dlg"]),
                               rng.choice(["Ada", "Bob", ".+", "yes"]))
    return "&".join(crits)


def rand_rel(rng, a, b):
    """Parenthood, adjacency, a distance band (half of all relations)
    or == on a (real or aliased) field."""
    r = rng.random()
    if r < 0.2:
        return "#%d>#%d" % (a, b)
    if r < 0.3:
        return "#%d.#%d" % (a, b)
    if r < 0.8:
        lo = rng.randint(1, 3)
        return "#%d.%d,%d#%d" % (a, lo, lo + rng.randint(0, 5), b)
    return "#%d:%s==#%d" % (a, rng.choice(DEPEDIT_FIELDS), b)


def shorthand_join(rels):
    """``#1>#2``, ``#2.#3`` -> ``#1>#2.#3``; ValueError if the
    endpoints do not chain."""
    out = rels[0]
    for r in rels[1:]:
        left = r.split(">")[0].split(".")[0].split(":")[0]
        if not out.endswith(left):
            raise ValueError("not chainable")
        out += r[len(left):]
    return out


def rand_rule(rng, variables):
    """One depedit rule: 1-4 nodes joined by a random spanning chain of
    relations (sometimes as shorthand) and 1-2 actions (set, with ``$1``
    only where a positive criterion captures; head reattachment;
    ``#S:`` annotation; ``last``)."""
    n_nodes = rng.randint(1, 4)
    nodes = [rand_nodedef(rng, variables) for _ in range(n_nodes)]
    rel = "none"
    if n_nodes > 1:
        order = list(range(1, n_nodes + 1))
        rng.shuffle(order)
        rels = [rand_rel(rng, a, b) for a, b in zip(order, order[1:])]
        if rng.random() < 0.3:
            rels.append(rand_rel(rng, *rng.sample(order, 2)))
        rel = ";".join(rels)
        if (rng.random() < 0.2 and len(rels) == n_nodes - 1
                and all(">" in r or "." in r for r in rels)):
            try:
                rel = shorthand_join(rels)
            except ValueError:
                pass
    has_groups = any("(" in crit and "!=" not in crit
                     for node in nodes for crit in node.split("&"))
    actions = []
    for _ in range(rng.randint(1, 2)):
        kind = rng.random()
        tgt = rng.randint(1, n_nodes)
        if kind < 0.5:
            attr = rng.choice(["morph", "func", "lemma", "func2", "pos"])
            val = rng.choice(["X", "Y=Z", "pre-$1"] if has_groups else ["X", "Y=Z", "W"])
            actions.append("#%d:%s=%s" % (tgt, attr, val))
        elif kind < 0.65 and n_nodes >= 2:
            actions.append("#%d>#%d" % tuple(rng.sample(range(1, n_nodes + 1), 2)))
        elif kind < 0.8:
            actions.append("#S:%s=%s" % (rng.choice(["dlg", "seen"]), rng.choice(["yes", "no"])))
        elif kind < 0.9:
            actions.append("last")
        else:
            actions.append("#%d:morph=M" % tgt)
    return "\t".join([";".join(nodes), rel, ";".join(actions)])


def rand_depedit(rng):
    """A depedit.ini: sometimes ``{var}`` definitions, then 1-3 rules."""
    variables, lines = {}, []
    if rng.random() < 0.3:
        for v in ("v1", "v2")[:rng.randint(1, 2)]:
            variables[v] = rand_value(rng)
            lines.append("{%s}=/%s/" % (v, variables[v]))
    lines.extend(rand_rule(rng, variables) for _ in range(rng.randint(1, 3)))
    return "\n".join(lines) + "\n"


def family_docs(family, n):
    """The first ``n`` documents of a family: (conllu, max_sentences,
    overlap) triples, plus (model file, text) for a config family; the
    family name seeds its random draws."""
    from xrenner_spark.corpus import build_document
    rng = random.Random(family)
    docs = []
    if family == "corpus":
        docs = [(build_document(i)["conllu"], 500, None) for i in range(n)]
    elif family == "forest":
        heads, names = vocabulary()
        docs = [(forest_doc(rng, heads, names), 500, None) for _ in range(n)]
    elif family == "adversarial":
        mutators = [mutate_unicode, mutate_malformed, mutate_supertoken]
        docs = [(d, 500, None) for d in EMPTY_DOCS[:n]]
        for i in range(n - len(docs)):
            k = rng.randrange(10 ** 6)
            docs.append((mutators[i % 3](build_document(k)["conllu"], k), 500, None))
    elif family == "whitespace":
        docs = [(whitespace_doc(rng), 500, None) for _ in range(n)]
    elif family in ("rules", "depedit"):
        heads, names = vocabulary()
        name, rand_config = {"rules": ("coref_rules.tab", rand_rules),
                             "depedit": ("depedit.ini", rand_depedit)}[family]
        for _ in range(n):
            config = rand_config(rng)
            docs.append((forest_doc(rng, heads, names), 500, None, name, config))
    elif family == "windowed":
        for i in range(n):
            long_doc = i % 50 == 0  # default windows: rule distances up to 100
            k, blocks = rng.randrange(10 ** 6), []
            want = rng.randint(120, 1200) if long_doc else rng.randint(6, 40)
            while len(blocks) < want:
                blocks.extend(build_document(k)["conllu"].strip("\n").split("\n\n"))
                k += 1
            max_sentences = 500 if long_doc else rng.choice([2, 3, 5, 8])
            overlap = None if long_doc else rng.randint(1, max_sentences - 1)
            docs.append(("\n\n".join(blocks[:want]) + "\n", max_sentences, overlap))
    else:
        raise KeyError(family)
    return docs


def jobs_of(family, model, n):
    return [(model,) + doc for doc in family_docs(family, n)]


def input_digest(job):
    return _md5(repr(job))


def block_digests(digests):
    return [_md5("".join(digests[i:i + BLOCK])) for i in range(0, len(digests), BLOCK)]


# ---------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------

def _unpack(rev, dest):
    """``git archive REV xrenner_spark`` unpacked under ``dest``."""
    blob = subprocess.run(["git", "-C", REPO, "archive", "--format=tar", rev, "xrenner_spark"],
                          check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        tar.extractall(dest)


def _run_sides(jobs, roots, tmp):
    """Fingerprints of ``jobs`` under each tree in ``roots``, the jobs
    dealt round-robin over subprocesses (all sides run at once)."""
    n_cpu = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    shards = max(1, (n_cpu or 1) // len(roots))
    for k in range(shards):
        with io.open(os.path.join(tmp, "jobs%d.json" % k), "w", encoding="utf8") as fh:
            json.dump(jobs[k::shards], fh)
    code = ("import runpy, sys; "
            "runpy.run_path(sys.argv[1])['run_side'](sys.argv[2], sys.argv[3])")
    procs = []
    for side, root in enumerate(roots):
        env = dict(os.environ, PYTHONPATH=root, PYTHONDONTWRITEBYTECODE="1")
        for k in range(shards):
            out = os.path.join(tmp, "out%d_%d.json" % (side, k))
            procs.append((side, k, out, subprocess.Popen(
                [sys.executable, "-c", code, os.path.abspath(__file__),
                 os.path.join(tmp, "jobs%d.json" % k), out], env=env, cwd=tmp)))
    results = [[None] * len(jobs) for _ in roots]
    for side, k, out, proc in procs:
        if proc.wait() != 0:
            raise SystemExit("side %s shard %d failed" % (roots[side], k))
        with io.open(out, encoding="utf8") as fh:
            got = json.load(fh)
        if os.path.realpath(got["tree"]) != os.path.realpath(roots[side]):
            raise SystemExit("side %s imported xrenner_spark from %s" % (roots[side], got["tree"]))
        results[side][k::shards] = got["digests"]
    return results


def main(argv):
    write = "--fingerprints" in argv
    args = [a for a in argv if a != "--fingerprints"]
    rev = args[0] if args else PINNED_REV
    sys.dont_write_bytecode = True
    sys.path.insert(0, REPO)
    t0 = time.time()
    families = [(family, model, jobs_of(family, model, n)) for family, model, n in FAMILIES]
    jobs = [job for _f, _m, fam_jobs in families for job in fam_jobs]
    tmp = tempfile.mkdtemp(prefix="self_diff_")
    try:
        _unpack(rev, os.path.join(tmp, "rev"))
        roots = [os.path.join(tmp, "rev")] + ([] if write else [REPO])
        results = _run_sides(jobs, roots, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sha = subprocess.run(["git", "-C", REPO, "rev-parse", "--short", rev],
                         check=True, capture_output=True, text=True).stdout.strip()

    if write:
        fixture, at = {"rev": sha, "block": BLOCK, "families": {}}, 0
        for family, model, fam_jobs in families:
            outputs = results[0][at:at + len(fam_jobs)]
            at += len(fam_jobs)
            fixture["families"]["%s/%s" % (family, model)] = {
                "docs": len(fam_jobs),
                "inputs": block_digests([input_digest(j) for j in fam_jobs]),
                "outputs": block_digests(outputs)}
        with io.open(FIXTURE, "w", encoding="utf8") as fh:
            json.dump(fixture, fh, indent=1)
            fh.write("\n")
        print("wrote %s: %d docs fingerprinted at %s (%.1f s)"
              % (os.path.relpath(FIXTURE, REPO), len(jobs), sha, time.time() - t0))
        return 0

    print("self_diff: working tree vs %s" % sha)
    print("%-12s %-8s %6s %10s" % ("family", "model", "docs", "mismatches"))
    at, total_bad, first = 0, 0, None
    for family, model, fam_jobs in families:
        bad = [i for i in range(len(fam_jobs))
               if results[0][at + i] != results[1][at + i]]
        at += len(fam_jobs)
        total_bad += len(bad)
        if bad and first is None:
            first = (family, model, bad[0], fam_jobs[bad[0]])
        print("%-12s %-8s %6d %10d" % (family, model, len(fam_jobs), len(bad)))
    print("total %d docs, %d mismatches (%.1f s)" % (len(jobs), total_bad, time.time() - t0))
    if first is not None:
        family, model, i, job = first
        print("first mismatch: %s/%s document %d (max_sentences=%d, overlap=%s):\n%s"
              % (family, model, i, job[2], job[3], job[1][:2000]))
        if len(job) > 4:
            print("under %s:\n%s" % (job[4], job[5]))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
