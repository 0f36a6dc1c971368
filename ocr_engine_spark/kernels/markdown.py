"""Markdown-skeleton rendering from extraction spans — kernel-direct
(Spark-free) twin of ``functions.markdown.markdown_col``.

Modern extraction pipelines emit lightly-structured Markdown rather
than flat text for LLM training corpora (heading/list structure is a
quality signal the model can use); the reference's flat-text contract
(surya_service.py OCRResponse.extracted_text) carries no structure, so
this is a Spark-first widening, derived entirely from the span kinds
the kernels already emit (html_extract block kinds: heading | para |
list | table | other; pdf_extract: page).

The contract is a STRUCTURAL skeleton: each emitted block becomes one
Markdown paragraph (blocks joined by a blank line), heading blocks get
an ``## `` prefix and list blocks a ``- `` prefix; no inline escaping
or re-wrapping is performed (the block text is the extraction-golden
byte sequence and must stay byte-identical inside the rendering).

This pure-Python form exists for the frozen oracle fixture
(fixtures/frozen.py) so the distributed Catalyst renderer is
value-gated against an independent implementation.
"""

from __future__ import annotations

# kind -> block prefix; single source of truth for BOTH twins
KIND_PREFIX = {"heading": "## ", "list": "- "}

BLOCK_SEP = "\n\n"


def render_markdown(text: str | None, spans: list[dict]) -> str | None:
    """Render one document's Markdown skeleton from its extraction
    spans (``{start, end, block_id, kind}`` char offsets into
    ``text``). ``None`` text (error rows) -> ``None``."""
    if text is None:
        return None
    pieces = []
    for s in spans:
        piece = text[s["start"]:s["end"]]
        pieces.append(KIND_PREFIX.get(s["kind"], "") + piece)
    return BLOCK_SEP.join(pieces)
