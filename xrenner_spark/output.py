"""Serialization sinks for kernel output: CWB SGML, CoNLL coref (scorer
compatible), OntoNotes XML, the reference test format, visualization
HTML, WebAnno XMI / TSV 3.2 standoff and PAULA standoff XML.

Byte-compatible with the reference's output module (reference
xrenner/modules/xrenner_out.py:30-133, xrenner_test.py:19-76), verified by
golden comparison in tests/test_output_formats.py.  Operates on the
kernel's DocResult rows; in the Spark pipeline these run per document
inside the kernel's mapInArrow batches (pipeline.serialize_stage).
"""

from __future__ import annotations

import re
from typing import Dict, List


def _spans(mentions: List[dict]):
    """markstart/markend maps keyed by token id, in mention creation order."""
    markstart: Dict[int, List[dict]] = {}
    markend: Dict[int, List[dict]] = {}
    for m in mentions:
        markstart.setdefault(m["start"], []).append(m)
        markend.setdefault(m["end"], []).append(m)
    return markstart, markend


def output_sgml(result) -> str:
    """CWB SGML with nested <referent> tags, one token per line
    (reference xrenner_out.py:61-85)."""
    markstart, markend = _spans(result.mentions)
    out = []
    for tok in result.tokens:
        tid = tok["tid"]
        for m in sorted(markstart.get(tid, []), key=lambda m: m["end"], reverse=True):
            attrs = '<referent id="%s" entity="%s" group="%s' % (
                m["ref_id"], m["entity"], m["group_id"])
            if m["antecedent_ref"] != "none":
                attrs += '" antecedent="%s" type="%s' % (m["antecedent_ref"],
                                                         m["coref_type"])
            out.append(attrs + '">')
        out.append(tok["text"])
        for _m in markend.get(tid, []):
            out.append("</referent>")
    return "\n".join(out) + "\n" if out else ""


def output_conll(result, docname: str, output_infstat: bool = False) -> str:
    """CoNLL coref bracket notation, scorer compatible
    (reference xrenner_out.py:88-133)."""
    markstart, markend = _spans(result.mentions)
    lines = ["# begin document " + docname]
    for i, tok in enumerate(result.tokens):
        tid = tok["tid"]
        coref_col = ""
        infstat_col = "_\t" if output_infstat else ""
        ends_here = list(markend.get(tid, []))
        starts_here = markstart.get(tid, [])
        for m in sorted(starts_here, key=lambda m: m["end"], reverse=True):
            coref_col += "(" + str(m["group_id"])
            if output_infstat:
                infstat_col = m["infstat"] + "\t"
            if m in ends_here:
                coref_col += ")"
                ends_here.remove(m)
        for m in ends_here:
            if m in starts_here:
                coref_col += ")"
            else:
                if coref_col and coref_col[-1].isdigit():
                    coref_col += "|"
                coref_col += str(m["group_id"]) + ")"
        if tid not in markstart and tid not in markend:
            coref_col = "_"
        lines.append("%d\t%s\t%s%s" % (i, tok["text"], infstat_col, coref_col))
    lines.append("# end document")
    return "\n".join(lines) + "\n\n"


def output_conll_sent(result, docname: str, output_infstat: bool = True,
                      output_entity: bool = True) -> str:
    """CoNLL bracket notation with per-sentence token renumbering and a
    blank line before every sentence (reference xrenner_out.py:136-193;
    the engine dispatches it with output_infstat=True,
    xrenner_xrenner.py:385-386).  Reference quirks preserved: the
    infstat column is empty (not '_') on non-start tokens, and the
    ``(1|2`` pipe separator is only inserted after a bare digit, so with
    entity suffixes adjacent groups concatenate directly."""
    markstart, markend = _spans(result.mentions)
    out = "# begin document " + docname + "\n"
    current_sent = None
    i = 0
    for tok in result.tokens:
        tid = tok["tid"]
        if current_sent != tok["sent_num"]:
            current_sent = tok["sent_num"]
            out += "\n"
            i = 0
        i += 1
        coref_col = ""
        infstat_col = ""
        ends_here = list(markend.get(tid, []))
        starts_here = markstart.get(tid, [])
        for m in sorted(starts_here, key=lambda m: m["end"], reverse=True):
            coref_col += "(" + str(m["group_id"])
            if output_entity:
                coref_col += "-" + m["entity"]
            if output_infstat:
                infstat_col = m["infstat"]
            if m in ends_here:
                coref_col += ")"
                ends_here.remove(m)
        for m in ends_here:
            if m in starts_here:
                coref_col += ")"
            else:
                if coref_col and coref_col[-1].isdigit():
                    coref_col += "|"
                coref_col += str(m["group_id"])
                if output_entity:
                    coref_col += "-" + m["entity"]
                coref_col += ")"
        if tid not in markstart and tid not in markend:
            coref_col = "_"
        if coref_col == "":
            coref_col = "_"
        out += "%d\t%s\t%s\t%s\n" % (i, tok["text"], infstat_col, coref_col)
    out += "# end document\n\n"
    return out


def output_onto(result, docname: str) -> str:
    """OntoNotes .coref XML (reference xrenner_out.py:30-58)."""
    markstart, markend = _spans(result.mentions)
    out = '<DOC DOCNO="%s">\n<TEXT PARTNO="000">\n' % docname
    for tok in result.tokens:
        tid = tok["tid"]
        for m in sorted(markstart.get(tid, []), key=lambda m: m["end"], reverse=True):
            out += '<COREF ID="%s" ENTITY="%s" INFSTAT="%s' % (
                m["group_id"], m["entity"], m["infstat"])
            if m["antecedent_ref"] != "none":
                out += '" TYPE="' + m["coref_type"]
            out += '">'
        text = tok["text"]
        out += re.sub("&", "&amp;", text) if ";" not in text else text
        for _m in markend.get(tid, []):
            out += "</COREF>"
        out += " "
    return out + "\n</TEXT>\n</DOC>\n"


def output_testcase(result, parse: str, model: str = "web", name: str = "test") -> str:
    """The reference's unit-test golden format: counts + chains in
    ``start_end < start_end`` notation (reference xrenner_test.py:19-76).

    ``parse`` must be the text the engine actually consumed: when the
    model ships a depedit.ini, pass ``lex.depedit.run(raw_parse)`` — the
    reference embeds the post-rewrite parse."""
    marks_by_group: Dict[str, List[dict]] = {}
    for m in result.mentions:
        marks_by_group.setdefault(str(m["group_id"]), []).append(m)

    chains = []
    snippets = []
    for group in sorted(marks_by_group, key=lambda g: int(g)):
        chain = sorted(marks_by_group[group], key=lambda m: m["start"])
        chain_ids = ["%d_%d" % (m["start"], m["end"]) for m in chain]
        text = chain[0]["text"]
        snippets.append(text[:20] + "..." if len(text) > 20 else text)
        chains.append("  " + " < ".join(chain_ids))
    order = sorted(range(len(chains)), key=lambda i: int(chains[i][2:chains[i].find("_")]))
    out = ["name:" + name, "model:" + model,
           "toks:%d # %s..." % (result.n_tokens + 1,
                                " ".join(t["text"] for t in result.tokens[:3])),
           "marks:%d" % len(result.mentions),
           "groups:%d" % len(marks_by_group), "chains:"]
    for i in order:
        out.append("  # " + snippets[i])
        out.append(chains[i])
    out.append("input_data:")
    out.append(parse)
    out.append("-" * 5)
    return "\n".join(out) + "\n"


_GLYPHS = {"person": "fa-male", "place": "fa-map-marker", "time": "fa-clock-o",
           "abstract": "fa-cloud", "quantity": "fa-sort-numeric-asc",
           "organization": "fa-bank", "object": "fa-cube", "event": "fa-bell-o",
           "animal": "fa-paw", "plant": "fa-pagelines", "substance": "fa-flask"}


def _get_glyph(entity_type: str) -> str:
    """Font Awesome icon per entity type (reference xrenner_out.py:657-688)."""
    if entity_type in _GLYPHS:
        return '<i title="%s" class="fa %s"></i>' % (entity_type, _GLYPHS[entity_type])
    return '<i title="%s" class="fa fa-question"></i>'


_HTML_HEAD = '''<html>
<head>
	<link rel="stylesheet" href="http://corpling.uis.georgetown.edu/xrenner/css/renner.css" type="text/css" charset="utf-8"/>
	<link rel="stylesheet" href="https://corpling.uis.georgetown.edu/xrenner/css/font-awesome-4.2.0/css/font-awesome.min.css"/>
	<meta http-equiv="content-type" content="text/html; charset=utf-8"/>
</head>
<body%s>
<script src="http://corpling.uis.georgetown.edu/xrenner/script/jquery-1.11.3.min.js"></script>
<script src="http://corpling.uis.georgetown.edu/xrenner/script/chroma.min.js"></script>
<script src="http://corpling.uis.georgetown.edu/xrenner/script/xrenner.js"></script>
'''


def output_html(result, rtl: bool = False) -> str:
    """Visualization HTML, one token per line, markables as nested <div>s
    with glyphs and group coloring (reference xrenner_out.py:196-250;
    the URL/script scaffolding strings are the format contract)."""
    markstart, markend = _spans(result.mentions)
    out = _HTML_HEAD % (' style="direction: rtl"' if rtl else "")
    for tok in result.tokens:
        tid = tok["tid"]
        for m in sorted(markstart.get(tid, []), key=lambda m: m["end"], reverse=True):
            info = ("class: %s | subclass: %s&#10;definiteness: %s | agree: %s"
                    "&#10;cardinality: %s | form: %s&#10;func: %s"
                    "&#10;core_text: %s | lemma: %s"
                    % (m["entity"], m["subclass"], m["definiteness"],
                       m["agree_raw"], m["cardinality_raw"], m["form"],
                       m["head_func"], m["core_text"], m["head_lemma"]))
            if m["speaker"] != "":
                info += "&#10;speaker: " + m["speaker"]
            if m["antecedent_ref"] != "none":
                info += "&#10;coref_type: " + m["coref_type"]
            if m["matching_rule"] is not None:
                info += "&#10;coref_rule: " + m["matching_rule"]
            out += ('<div id="%s" head="%s" onmouseover="highlight_group('
                    "'%s')\" onmouseout=\"unhighlight_group('%s')\" "
                    'class="referent" group="%s" title="%s'
                    % (m["ref_id"], m["head_id"], m["group_id"],
                       m["group_id"], m["group_id"], info))
            if m["antecedent_ref"] != "none":
                out += '" antecedent="' + m["antecedent_ref"]
            out += '"><span class="entity_type">%s</span>\n' % _get_glyph(m["entity"])
        out += (tok["text"].replace("-RRB-", ")").replace("-LRB-", "(")
                .replace("-LSB-", "[").replace("-RSB-", "]") + "\n")
        for _m in markend.get(tid, []):
            out += "</div>\n"
    out += "<script>colorize();</script>\n"
    out += "</body>\n</html>"
    return out


_XMI_HEAD = '''<?xml version="1.0" encoding="UTF-8"?>
	<xmi:XMI xmlns:cas="http:///uima/cas.ecore"
	    xmlns:type2="http:///de/tudarmstadt/ukp/dkpro/core/api/metadata/type.ecore"
	    xmlns:dependency="http:///de/tudarmstadt/ukp/dkpro/core/api/syntax/type/dependency.ecore"
	    xmlns:type5="http:///de/tudarmstadt/ukp/dkpro/core/api/syntax/type.ecore"
	    xmlns:type3="http:///de/tudarmstadt/ukp/dkpro/core/api/ner/type.ecore"
	    xmlns:custom="http:///webanno/custom.ecore"
	    xmlns:type4="http:///de/tudarmstadt/ukp/dkpro/core/api/segmentation/type.ecore"
	    xmlns:tcas="http:///uima/tcas.ecore"
	    xmlns:tweet="http:///de/tudarmstadt/ukp/dkpro/core/api/lexmorph/type/pos/tweet.ecore"
	    xmlns:chunk="http:///de/tudarmstadt/ukp/dkpro/core/api/syntax/type/chunk.ecore"
	    xmlns:xmi="http://www.omg.org/XMI"
	    xmlns:type="http:///de/tudarmstadt/ukp/dkpro/core/api/coref/type.ecore"
	    xmlns:morph="http:///de/tudarmstadt/ukp/dkpro/core/api/lexmorph/type/morph.ecore"
	    xmlns:constituent="http:///de/tudarmstadt/ukp/dkpro/core/api/syntax/type/constituent.ecore"
	    xmlns:pos="http:///de/tudarmstadt/ukp/dkpro/core/api/lexmorph/type/pos.ecore" xmi:version="2.0">
	    <cas:NULL xmi:id="0"/>
	    <cas:Sofa xmi:id="12000" sofaNum="1" sofaID="_InitialView" mimeType="text"
	        sofaString="'''

_XMI_META = '''
		language="x-unspecified"
        documentTitle="renner_out.tcf" documentId="renner_out"
        documentUri="file:/srv/webanno/repository/project/2/document/4/source/renner_out.tcf"
        collectionId="file:/srv/webanno/repository/project/2/document/4/source/"
        documentBaseUri="file:/srv/webanno/repository/project/2/document/4/source/"
        isLastSegment="false"/>\n'''

_XMI_TAGSETS = '''    <type2:TagsetDescription xmi:id="15571" sofa="12000" begin="0" end="0"
        layer="de.tudarmstadt.ukp.dkpro.core.api.syntax.type.dependency.Dependency" name="Tiger"/>
    <type2:TagsetDescription xmi:id="15578" sofa="12000" begin="0" end="0"
        layer="de.tudarmstadt.ukp.dkpro.core.api.ner.type.NamedEntity" name="NER_WebAnno"/>
    <type2:TagsetDescription xmi:id="15585" sofa="12000" begin="0" end="0"
        layer="de.tudarmstadt.ukp.dkpro.core.api.lexmorph.type.pos.POS" name="STTS"/>
		<type2:TagsetDescription xmi:id="15592" sofa="12000" begin="0" end="0" layer="webanno.custom.Coref"
			name="coref_tags"/>
		<type2:TagsetDescription xmi:id="15599" sofa="12000" begin="0" end="0"
			layer="webanno.custom.Referent" name="infstat_tags"/>\n'''


def output_webanno(result) -> str:
    """WebAnno UIMA XMI standoff with char-offset token/sentence/Referent
    spans and Coref links (reference xrenner_out.py:385-507).  Reference
    quirks preserved: the Coref element's end offset uses the
    antecedent's token START array, and duplicate markable ids ("env",
    killed "0") overwrite earlier entries in the xmi-id map."""
    out = _XMI_HEAD
    text_string = ""
    all_ids = ""
    text_length = 0
    for tok in result.tokens:
        escaped = (tok["text"].replace("&", "&amp;").replace('"', "&quot;")
                   .replace(">", "&gt;").replace("<", "&lt;"))
        text_string += escaped + " "
        text_length += len(tok["text"]) + 1
    out += text_string
    out += ('"/>\n<type2:DocumentMetaData xmi:id="10001" sofa="12000" '
            'begin="0" end="' + str(text_length - 1) + '"')
    out += _XMI_META

    cursor = 0
    current_sent = 1
    sent_begin = 0
    sentences = ""
    tok_starts, tok_ends = [], []
    for tok in result.tokens:
        out += ('\t<type4:Token xmi:id="%d" sofa="12000" begin="%d" end="%d"/>\n'
                % (tok["tid"] + 1, cursor, cursor + len(tok["text"])))
        all_ids += str(tok["tid"] + 1) + " "
        tok_starts.append(cursor)
        tok_ends.append(cursor + len(tok["text"]))
        if tok["sent_num"] > current_sent:
            sentences += ('\t<type4:Sentence xmi:id="%d" sofa="12000" begin="%d" end="%d"/>\n'
                          % (4000 + current_sent, sent_begin, cursor - 1))
            all_ids += str(4000 + current_sent) + " "
            current_sent += 1
            sent_begin = cursor
        cursor += len(tok["text"]) + 1
    sentences += ('\t<type4:Sentence xmi:id="%d" sofa="12000" begin="%d" end="%d"/>\n'
                  % (4000 + current_sent, sent_begin, cursor - 1))
    all_ids += str(4000 + current_sent) + " "
    out += sentences

    mark_xmi_ids = {}
    for n, m in enumerate(result.mentions, start=1):
        out += ('\t<custom:Referent xmi:id="%d" sofa="12000" begin="%d" end="%d" '
                'entity="%s" infstat="%s"/>\n'
                % (5000 + n, tok_starts[m["start"] - 1], tok_ends[m["end"] - 1],
                   m["entity"], m["infstat"]))
        all_ids += str(5000 + n) + " "
        mark_xmi_ids[m["ref_id"]] = str(5000 + n)

    link = 1
    for m in result.mentions:
        if m["antecedent_ref"] != "none":
            a_start, a_end = (int(x) for x in m["antecedent"].split("_"))
            out += ('\t<custom:Coref xmi:id="%d" sofa="12000" begin="%d" end="%d" '
                    'Dependent="%s" Governor="%s" type="%s"/>\n'
                    % (6000 + link,
                       min(tok_starts[m["start"] - 1], tok_starts[a_start - 1]),
                       max(tok_ends[m["end"] - 1], tok_starts[a_end - 1]),
                       mark_xmi_ids[m["antecedent_ref"]], mark_xmi_ids[m["ref_id"]],
                       m["coref_type"]))
            all_ids += str(6000 + link) + " "
            link += 1
    out += _XMI_TAGSETS
    out += '<cas:View sofa="12000" members="' + all_ids.strip() + '"/>\n</xmi:XMI>\n'
    return out


def output_webannotsv(result, output_infstat: bool = True) -> str:
    """WebAnno TSV 3.2, derived from the XMI exactly as the reference
    derives it — parse the XMI back with xmltodict and re-walk spans
    (reference xrenner_out.py:507-655, quirks included: the quadratic
    token/referent scan order, left/right ids collapsing to '0' for
    single-token spans, and '|'-joined multi-membership columns)."""
    import xmltodict

    webannoxmi = xmltodict.parse(output_webanno(result))
    if not output_infstat:
        out = ["#FORMAT=WebAnno TSV 3.2",
               "#T_SP=webanno.custom.Referent|entity",
               "#T_RL=webanno.custom.Coref|type|BT_webanno.custom.Referent",
               "", ""]
    else:
        out = ["#FORMAT=WebAnno TSV 3.2",
               "#T_SP=webanno.custom.Referent|entity|infstat",
               "#T_RL=webanno.custom.Coref|type|BT_webanno.custom.Referent",
               "", ""]

    tokenstring = webannoxmi["xmi:XMI"]["cas:Sofa"]["@sofaString"]
    refdict: Dict[int, list] = {}

    def _aslist(node):
        return node if isinstance(node, list) else [node]

    sents = _aslist(webannoxmi["xmi:XMI"].get("type4:Sentence", []))
    toks = _aslist(webannoxmi["xmi:XMI"].get("type4:Token", []))
    refs = _aslist(webannoxmi["xmi:XMI"].get("custom:Referent", [])) \
        if "custom:Referent" in webannoxmi["xmi:XMI"] else []
    corefs = _aslist(webannoxmi["xmi:XMI"]["custom:Coref"]) \
        if "custom:Coref" in webannoxmi["xmi:XMI"] else []

    for sent in sents:
        sent_id = int(sent["@xmi:id"]) - 4000
        sent_start_char = int(sent["@begin"])
        sent_end_char = int(sent["@end"])
        tok_id = 1
        for tok in toks:
            tok_start_char = int(tok["@begin"])
            tok_end_char = int(tok["@end"])
            if tok_start_char > sent_end_char:
                break
            if tok_start_char < sent_start_char:
                continue
            line_ref = ""
            line_type = ""
            line_coref = ""
            line_chain = ""
            if tok_id == 1:
                out.append("#Text=%s" % tokenstring[sent_start_char:sent_end_char])
            line = ["%d-%d" % (sent_id, tok_id),
                    "%d-%d" % (tok_start_char, tok_end_char),
                    tokenstring[tok_start_char:tok_end_char]]
            for ref in refs:
                rid = int(ref["@xmi:id"]) - 5000
                refdict.setdefault(rid, [None, None, None, None])
                refdict[rid][0] = ref["@begin"]
                refdict[rid][1] = ref["@end"]
                if tok_start_char >= int(ref["@begin"]) and tok_end_char <= int(ref["@end"]):
                    if tok_start_char == int(ref["@begin"]) and tok_end_char == int(ref["@end"]):
                        line_ref += "%s|" % ref["@entity"]
                        if output_infstat:
                            line_type += "%s|" % ref["@infstat"]
                    else:
                        line_ref += "%s[%d]|" % (ref["@entity"], rid)
                        if output_infstat:
                            line_type += "%s[%d]|" % (ref["@infstat"], rid)
                    if tok_start_char == int(ref["@begin"]):
                        refdict[rid][2] = "%d-%d" % (sent_id, tok_id)
                    if tok_end_char == int(ref["@end"]):
                        refdict[rid][3] = "%d-%d" % (sent_id, tok_id)
                    for coref in corefs:
                        if int(coref["@begin"]) == int(ref["@begin"]):
                            if tok_start_char == int(ref["@begin"]):
                                line_chain += "%d[%d_%d]|" % (
                                    int(coref["@Governor"]) - 5000,
                                    int(coref["@Governor"]) - 5000,
                                    int(coref["@Dependent"]) - 5000)
                                line_coref += "%s|" % coref["@type"]

            def _finish(col):
                if col == "":
                    return "_"
                if col.endswith("|"):
                    return col[:-1]
                return col

            line += [_finish(line_ref), _finish(line_type),
                     _finish(line_coref), _finish(line_chain)]
            out.append(line)
            tok_id += 1
        out.append("")

    for i, ln in enumerate(out):
        if isinstance(ln, list):
            chain_col = ln[-1]
            if chain_col != "_":
                chains = [re.split(r"[\[\]_]", x) for x in chain_col.split("|")]
                for j in range(len(chains)):
                    tokenplace = refdict[int(chains[j][0])][2]
                    left = "0" if refdict[int(chains[j][1])][2] == refdict[int(chains[j][1])][3] \
                        else chains[j][1]
                    right = "0" if refdict[int(chains[j][2])][2] == refdict[int(chains[j][2])][3] \
                        else chains[j][2]
                    if right == "0" and left == "0":
                        chains[j] = tokenplace
                    else:
                        chains[j] = tokenplace + "[" + left + "_" + right + "]"
                out[i][-1] = "|".join(chains)
            out[i] = "\t".join(out[i])
    return "\n".join(out)


_PAULA_TEXT_HEADER = '''<?xml version="1.0" standalone="no"?>
<!DOCTYPE paula SYSTEM "paula_text.dtd">

<paula version="1.0">
<header paula_id="renner.out_text" type="text"/>

<body>
'''


def output_paula(result, docname: str) -> Dict[str, str]:
    """PAULA standoff XML as a {filename: content} dict — the most
    complete export: separate token/markable/entity/rel/rel-anno layers
    with apposition/ana/cata edge types (reference xrenner_out.py:253-382;
    the reference writes the six files directly, we return them so the
    Spark sink can emit one row per file).  Markables here are NOT
    end-sorted — creation order, a deliberate reference quirk."""
    markstart, _markend = _spans(result.mentions)
    text = ""
    toks = ""
    marks = ""
    ents = ""
    rels = ""
    rel_annos = ""
    cursor = 1
    rel_id = 1
    for tok in result.tokens:
        tid = tok["tid"]
        text += tok["text"] + " "
        for m in markstart.get(tid, []):
            if m["end"] > m["start"]:
                marks += ('<mark id="' + m["ref_id"] + '"  xlink:href="#xpointer(id('
                          + "'tok_" + str(m["start"]) + "')/range-to(id('tok_"
                          + str(m["end"]) + "')))" + '"><!-- ' + m["text"] + " -->\n")
            else:
                marks += ('<mark id="' + m["ref_id"] + '"  xlink:href="#tok_'
                          + str(m["start"]) + '"><!-- ' + m["text"] + " -->\n")
            ents += ('<feat xlink:href="#' + m["ref_id"] + '" value="' + m["entity"]
                     + '"><!-- ' + m["text"] + " -->\n")
            if m["antecedent_ref"] != "none":
                rels += ('<rel id="rel_' + str(rel_id) + '" xlink:href="#' + m["ref_id"]
                         + '" target="#' + m["antecedent_ref"] + '"/><!-- ' + m["text"]
                         + " ... " + m["antecedent_text"] + " -->\n")
                rel_annos += ('<feat xlink:href="#rel_' + str(rel_id) + '" value="'
                              + m["coref_type"] + '"/><!-- ' + m["text"] + " ... "
                              + m["antecedent_text"] + " -->\n")
                rel_id += 1
        toks += ('<mark id="tok_' + str(tid) + '" xlink:href="#xpointer(string-range(//body,'
                 + "'', " + str(cursor) + "," + str(len(tok["text"])) + "))"
                 + '"/><!-- ' + tok["text"] + " -->\n")
        cursor += len(tok["text"]) + 1

    tok_header = ('<?xml version="1.0" standalone="no"?>\n\n'
                  '<!DOCTYPE paula SYSTEM "paula_mark.dtd">\n<paula version="1.0">\n\n'
                  '<header paula_id="renner.out_tok"/>\n\n'
                  '<markList xmlns:xlink="http://www.w3.org/1999/xlink" type="tok" '
                  'xml:base="xrenner.' + docname + '.text.xml">\n')
    mark_header = ('<?xml version="1.0" encoding="UTF-8" standalone="no"?>\n'
                   '<!DOCTYPE paula SYSTEM "paula_mark.dtd">\n<paula version="1.0">\n\n'
                   '<header paula_id="xrenner.' + docname + '_referentSeg"/>\n\n'
                   '<markList xmlns:xlink="http://www.w3.org/1999/xlink" type="referentSeg" '
                   'xml:base="xrenner.' + docname + '.tok.xml">\n')
    entity_header = ('<?xml version="1.0" encoding="UTF-8" standalone="no"?>\n\n'
                     '<!DOCTYPE paula SYSTEM "paula_feat.dtd">\n<paula version="1.0">\n\n'
                     '<header paula_id="xrenner.' + docname + '_referentSeg_entity"/>\n\n'
                     '<featList xmlns:xlink="http://www.w3.org/1999/xlink" type="entity" '
                     'xml:base="xrenner.' + docname + '.referentSeg.xml">\n')
    coref_header = ('<?xml version="1.0" standalone="no"?>\n\n'
                    '<!DOCTYPE paula SYSTEM "paula_rel.dtd">\n<paula version="1.0">\n\n'
                    '<header paula_id="xrenner.' + docname + '.referentSeg_coref"/>\n\n'
                    '<relList xmlns:xlink="http://www.w3.org/1999/xlink" type="coref" '
                    'xml:base="xrenner.' + docname + '.referentSeg.xml">\n')
    coref_type_header = ('<?xml version="1.0" encoding="UTF-8" standalone="no"?>\n\n'
                         '<!DOCTYPE paula SYSTEM "paula_feat.dtd">\n<paula version="1.0">\n\n'
                         '<header paula_id="xrenner.' + docname + '.referentSeg_coref_type"/>\n\n'
                         '<featList xmlns:xlink="http://www.w3.org/1999/xlink" type="type" '
                         'xml:base="xrenner.' + docname + '.referentSeg_coref.xml">\n')
    prefix = "xrenner." + docname
    return {
        prefix + ".text.xml": _PAULA_TEXT_HEADER + text + "\n</body>\n</paula>\n",
        prefix + ".tok.xml": tok_header + toks + "</markList>\n</paula>\n",
        prefix + ".referentSeg.xml": mark_header + marks + "</markList>\n</paula>\n",
        prefix + ".referentSeg_entity.xml": entity_header + ents + "</featList>\n</paula>\n",
        prefix + ".referentSeg_coref.xml": coref_header + rels + "</relList>\n</paula>\n",
        prefix + ".referentSeg_coref_type.xml": coref_type_header + rel_annos + "</featList>\n</paula>\n",
    }


def serialize_result(result, docname: str, fmt: str, parse: str = "",
                     model: str = "web"):
    """Single dispatch point for every output format (used by both the
    CLI and the distributed serialize_stage so the mapping cannot
    drift): returns the payload string, a {filename: payload} dict for
    PAULA's multi-file standoff, or None for "none"."""
    if fmt == "sgml":
        return output_sgml(result)
    if fmt == "conll":
        return output_conll(result, docname)
    if fmt == "conll_sent":
        return output_conll_sent(result, docname)
    if fmt == "onto":
        return output_onto(result, docname)
    if fmt == "html":
        return output_html(result)
    if fmt == "webanno":
        return output_webanno(result)
    if fmt == "webannotsv":
        return output_webannotsv(result)
    if fmt == "paula":
        return output_paula(result, docname)
    if fmt == "unittest":
        return output_testcase(result, parse, model=model, name=docname)
    if fmt == "none":
        return None
    raise ValueError("unknown serialization format: %r" % fmt)
