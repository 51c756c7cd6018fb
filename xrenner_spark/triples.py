"""Chain canonicalization and (subj, pred, obj) triple extraction.

The reference engine stops at entity-annotated coreference chains; the
KG layer pins a deterministic extraction over its outputs (SURVEY.md §2.8)
and applies the *same* function to both our kernel output and
reference-faithful golden output, making "matching the reference's
emitted triples" well-defined:

1. predicates  = tokens whose POS matches ``verb_head_pos``
                 (reference models/…/config.ini verb_head_pos; the class
                 the reference itself uses for verbal antecedents,
                 xrenner_xrenner.py:240-241);
2. arguments   = final (post-postprocessing) markables whose head token
                 depends on that verb with func matching
                 ``SUBJECT_FUNC_DEFAULT`` (subj) or ``OBJECT_FUNC`` (obj) —
                 conj-propagated functions mean coordinated subjects each
                 yield a triple;
3. canonical   = per chain: core_text of the first proper-form member,
                 else the longest non-pronoun member, else the mention;
4. triple      = (canonical(subj.group), verb lemma, canonical(obj.group))
                 with provenance (doc, sent_num, groups, entities).

These rules are shared by the Spark SQL stage (pipeline.py, whose
statement embeds both role patterns) and the pytest parity harness.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Tuple

#: role dependency functions of a verb's arguments, fixed: the subject
#: pattern equals models/web's ``subject_func`` but is not read from it
OBJECT_FUNC = re.compile(r"^(obj|dobj|iobj|obl|nmod)$")
SUBJECT_FUNC_DEFAULT = re.compile(r"^[nc]subj")
VERB_POS_DEFAULT = re.compile(r"^VERB$")


def parse_verbs(conllu_text: str, verb_pos=VERB_POS_DEFAULT) -> Dict[int, str]:
    """Map document-global token id -> lemma for predicate tokens."""
    verbs: Dict[int, str] = {}
    offset = 0
    seen_in_sentence = 0
    for line in conllu_text.replace("\r", "").split("\n"):
        if line.startswith("#"):
            continue
        if "\t" not in line:
            offset += seen_in_sentence
            seen_in_sentence = 0
            continue
        cols = line.split("\t")
        if "." in cols[0] or "-" in cols[0]:
            continue
        seen_in_sentence += 1
        if verb_pos.match(cols[3]) is not None:
            verbs[int(cols[0]) + offset] = cols[2]
    return verbs


def canonical_mentions(mentions: Iterable[dict]) -> Dict[str, str]:
    """Per-group canonical string (rule 3 above). Group key is whatever the
    mention rows carry ('group' or 'group_id'), stringified."""
    groups: Dict[str, List[dict]] = {}
    for m in mentions:
        gid = str(m.get("group_id", m.get("group")))
        groups.setdefault(gid, []).append(m)
    canonical: Dict[str, str] = {}
    for gid, members in groups.items():
        members = sorted(members, key=lambda m: (m["start"], m["end"]))
        propers = [m for m in members if m["form"] == "proper"]
        if propers:
            canonical[gid] = propers[0]["core_text"]
            continue
        non_pron = [m for m in members if m["form"] != "pronoun"]
        if non_pron:
            best = max(non_pron, key=lambda m: (len(m["core_text"]), -m["start"]))
            canonical[gid] = best["core_text"]
        else:
            canonical[gid] = members[0]["core_text"]
    return canonical


def extract_triples(mentions: Iterable[dict], verbs: Dict[int, str],
                    subject_func=SUBJECT_FUNC_DEFAULT,
                    object_func=OBJECT_FUNC) -> List[dict]:
    """Produce triples for every (subj-arg, obj-arg) pair sharing a verb."""
    mentions = list(mentions)
    canonical = canonical_mentions(mentions)
    args: Dict[int, Dict[str, List[dict]]] = {}
    for m in mentions:
        verb_id = m.get("head_parent")
        if verb_id not in verbs:
            continue
        func = m.get("head_func", "")
        if subject_func.match(func) is not None:
            role = "subj"
        elif object_func.match(func) is not None:
            role = "obj"
        else:
            continue
        args.setdefault(verb_id, {"subj": [], "obj": []})[role].append(m)

    triples: List[dict] = []
    for verb_id in sorted(args):
        lemma = verbs[verb_id]
        for subj in args[verb_id]["subj"]:
            for obj in args[verb_id]["obj"]:
                if subj is obj:
                    continue
                sg = str(subj.get("group_id", subj.get("group")))
                og = str(obj.get("group_id", obj.get("group")))
                triples.append({
                    "subj": canonical[sg],
                    "pred": lemma,
                    "obj": canonical[og],
                    "subj_group": sg,
                    "obj_group": og,
                    "subj_entity": subj["entity"],
                    "obj_entity": obj["entity"],
                    "sent_num": subj["sent_num"],
                    "verb_id": verb_id,
                })
    return triples


def triple_key(t: dict) -> Tuple[str, str, str, int]:
    return (t["subj"], t["pred"], t["obj"], t["sent_num"])


def precision_recall(mine: Iterable[dict], reference: Iterable[dict]) -> Tuple[float, float, int, int, int]:
    """Set-based P/R over triple keys; returns (p, r, n_mine, n_ref, n_hit)."""
    mine_keys = {triple_key(t) for t in mine}
    ref_keys = {triple_key(t) for t in reference}
    hits = len(mine_keys & ref_keys)
    p = hits / len(mine_keys) if mine_keys else 1.0
    r = hits / len(ref_keys) if ref_keys else 1.0
    return p, r, len(mine_keys), len(ref_keys), hits
