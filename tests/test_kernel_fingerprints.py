"""The kernel's output on a prefix of scripts/self_diff.py's inputs
against the fingerprints committed in tests/fixtures/kernel_fingerprints.json
(per 100-document block, made by ``self_diff.py --fingerprints`` at the
pinned commit): a changed input block means a generator changed, a
changed output block with the same inputs means the kernel did."""

import importlib.util
import io
import json
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "self_diff", os.path.join(REPO, "scripts", "self_diff.py"))
self_diff = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(self_diff)

#: blocks recomputed per family/model; the fixture holds every block
PREFIX_BLOCKS = {"corpus/web": 20, "windowed/web": 3}

with io.open(self_diff.FIXTURE, encoding="utf8") as _fh:
    FIXTURE = json.load(_fh)


@pytest.mark.parametrize("family, model, _n", self_diff.FAMILIES,
                         ids=["%s/%s" % f[:2] for f in self_diff.FAMILIES])
def test_kernel_output_matches_fingerprints(family, model, _n):
    key = "%s/%s" % (family, model)
    want = FIXTURE["families"][key]
    n_blocks = PREFIX_BLOCKS.get(key, 5)
    jobs = self_diff.jobs_of(family, model, n_blocks * self_diff.BLOCK)
    inputs = self_diff.block_digests([self_diff.input_digest(j) for j in jobs])
    assert inputs == want["inputs"][:n_blocks], (
        "%s: the generated inputs changed (corpus.build_document or a "
        "self_diff generator), not the kernel; regenerate the fixture with "
        "scripts/self_diff.py --fingerprints" % key)
    outputs = self_diff.block_digests(self_diff.job_fingerprints(jobs))
    bad = [i for i, (got, exp) in enumerate(zip(outputs, want["outputs"])) if got != exp]
    assert not bad, (
        "%s: kernel output changed on the same inputs, first in documents "
        "%d-%d; run scripts/self_diff.py to find the document"
        % (key, bad[0] * self_diff.BLOCK, (bad[0] + 1) * self_diff.BLOCK - 1))
