"""Per-document analysis kernel.

The kernel is a pure function ``analyze_document(doc_id, conllu_text, lex)``
that runs mention detection, entity classification and coreference-chain
construction for ONE document.  It is deliberately sequential *within* a
document (the rule cascade mutates group state in document order — see
SURVEY.md §7.2).  The Spark pipeline runs ``analyze_document_windowed``
(documents over 500 sentences analyzed in overlapping windows) through
``pipeline.analyze_page`` over Arrow batches of documents inside
``pipeline._map_docs``' ``mapInArrow``; Spark supplies all
inter-document parallelism.
"""

from .engine import (analyze_document, analyze_document_windowed,  # noqa: F401
                     DocResult)
