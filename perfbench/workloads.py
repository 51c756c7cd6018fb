"""Seeded page tables for the benchmark workloads.

Every page is built from ``xrenner_spark.corpus`` documents; the seed
only moves the range of corpus doc ids a workload draws from and picks
which pages are planted as malformed, so the same seed always yields the
same bytes and different seeds yield different pages.  Pages keep the
corpus html layout, so ``corpus.extract_text`` returns the ``text``
column byte for byte (the pipeline's per-row invariant).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
from typing import Dict, List, Tuple

# Input sizes.  Each is stated in BENCHMARK.json and README.md; change
# them together.
SIZES = {
    # short corpus pages, ``malformed`` of them planted as malformed
    "crawl_short": {"pages": 384, "malformed": 6},
    # distinct short pages, each re-crawled 2 to ``max_copies`` times,
    # plus ``malformed`` planted pages that appear once
    "recrawl_dupes": {"distinct": 128, "max_copies": 5, "malformed": 6},
}
WORKLOADS = tuple(SIZES)
# pipeline.run_pipeline keyword arguments per workload
RUN_KWARGS = {"crawl_short": {}, "recrawl_dupes": {"dedup_kernel_inputs": True}}
# bump when the generator's output changes, so cached tables are rebuilt
GEN_VERSION = 1

_DOC_ID_STRIDE = 10_000_000
_CONLLU_OPEN = "<!--@conllu\n"   # corpus page layout: the parse follows this


def _h(*parts) -> int:
    return int.from_bytes(hashlib.md5(
        "\x1f".join(map(str, parts)).encode("utf8")).digest()[:8], "big")


def doc_id_base(workload: str, seed: int) -> int:
    """First corpus doc id of a (workload, seed) input: disjoint ranges
    per seed, and per workload within a seed."""
    return (seed * len(WORKLOADS) + WORKLOADS.index(workload) + 1) * _DOC_ID_STRIDE


def malform(page: Dict) -> Dict:
    """Cut the first token line of the page's parse to three columns.
    The text, and so the extraction invariant, is unchanged; the kernel
    cannot parse the page and must isolate it as a per-document error."""
    from xrenner_spark.corpus import extract_conllu
    conllu = extract_conllu(page["html"])
    lines = conllu.split("\n")
    for i, line in enumerate(lines):
        if "\t" in line:
            lines[i] = "\t".join(line.split("\t")[:3])
            break
    html = page["html"].decode("utf8").replace(
        _CONLLU_OPEN + conllu, _CONLLU_OPEN + "\n".join(lines), 1)
    return dict(page, html=html.encode("utf8"))


def make_pages(workload: str, seed: int) -> Tuple[List[Dict], Dict]:
    """Pages (dicts in the ``pipeline.PAGES_SCHEMA`` column order) and the
    facts the output checks need: ``planted`` (urls of malformed pages)
    and, for ``recrawl_dupes``, ``groups`` (the urls of each page's
    copies)."""
    from xrenner_spark.corpus import build_page, extract_conllu
    size = SIZES[workload]
    base = doc_id_base(workload, seed)
    pages: List[Dict] = []
    planted: List[str] = []
    groups: List[List[str]] = []
    if workload == "crawl_short":
        bad = sorted(range(size["pages"]), key=lambda i: _h(seed, "bad", i))
        bad = set(bad[:size["malformed"]])
        for i in range(size["pages"]):
            page = build_page(base + i)
            if i in bad:
                page = malform(page)
                planted.append(page["url"])
            pages.append(page)
    elif workload == "recrawl_dupes":
        # copy counts cycle through 2..max_copies, so the page count is
        # the same for every seed; the seed picks which page gets which
        spread = size["max_copies"] - 1
        order = sorted(range(size["distinct"]), key=lambda i: _h(seed, "copies", i))
        n_copies_of = {i: 2 + rank % spread for rank, i in enumerate(order)}
        for i in range(size["distinct"]):
            page = build_page(base + i)
            n_copies = n_copies_of[i]
            urls = []
            for k in range(n_copies):
                copy = dict(page, url=page["url"] + "?crawl=%d" % k,
                            warc_ts=page["warc_ts"] + datetime.timedelta(days=7 * k))
                urls.append(copy["url"])
                pages.append(copy)
            groups.append(urls)
        for j in range(size["malformed"]):
            page = malform(build_page(base + size["distinct"] + j))
            planted.append(page["url"])
            pages.append(page)
        # copies of one page must not sit next to each other in the input
        pages.sort(key=lambda p: _h(seed, "order", p["url"]))
    else:
        raise ValueError("unknown workload %r (have: %s)"
                         % (workload, ", ".join(WORKLOADS)))
    meta = {"workload": workload, "seed": seed, "pages": len(pages),
            "doc_id_base": base, "planted": sorted(planted),
            "groups": groups,
            "sentences": sum(extract_conllu(p["html"]).count("\n\n") + 1
                             for p in pages)}
    return pages, meta


def cached_pages(workload: str, seed: int, cache_dir: str) -> Tuple[str, Dict]:
    """Path of the (workload, seed) pages parquet file and its meta,
    written once and reused.  ``warc_ts`` is stored as a UTC-adjusted
    timestamp, which Spark reads as ``TimestampType`` as in
    ``pipeline.PAGES_SCHEMA``."""
    root = os.path.join(cache_dir, "%s-s%d-v%d" % (workload, seed, GEN_VERSION))
    meta_path = os.path.join(root, "meta.json")
    table = os.path.join(root, "pages.parquet")
    if not os.path.exists(meta_path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pages, meta = make_pages(workload, seed)
        schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                            ("html", pa.binary()), ("text", pa.string()),
                            ("lang", pa.string())])
        columns = {name: [p[name] for p in pages] for name in schema.names}
        columns["warc_ts"] = [ts.replace(tzinfo=datetime.timezone.utc)
                              for ts in columns["warc_ts"]]
        os.makedirs(root, exist_ok=True)
        pq.write_table(pa.table(columns, schema=schema), table + ".tmp")
        os.replace(table + ".tmp", table)
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as f:
        return table, json.load(f)
