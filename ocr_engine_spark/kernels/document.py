"""The per-document extraction step: one page payload in, one record out.

The one place that decides what happens to a payload before and after
its kernel: the size cap, the magic-byte dispatch to the PDF or HTML
kernel, and the 5-step clean of the extracted text. The Spark kernel
stage (``engine/extract_job.extract_batch_arrow``), the kernel-direct
frozen oracle fixture (``fixtures/frozen.py``) and the single-thread
profiler (``tools/profile_kernels.py``) all call it, so the three agree
on every payload by construction.
"""

from __future__ import annotations

from ocr_engine_spark.kernels import (
    clean, error_record, html_extract, pdf_extract,
)

# parity with the reference's upload size guard (50 MB max file size):
# oversized payloads become error RECORDS, not failures
MAX_PAYLOAD_BYTES = 50 * 1024 * 1024


def extract_document(payload: bytes | None) -> tuple[str, dict]:
    """``(payload_kind, record)`` of one payload. ``payload_kind`` is
    'oversize' (over ``MAX_PAYLOAD_BYTES``; the kernels never see it),
    'pdf' (``%PDF`` magic) or 'html' (anything else; NULL reads as an
    empty page). ``record`` is the kernels' record plus ``clean``, the
    cleaned text (None when there is no text).

    The kernels are looked up on their modules at call time, so a
    wrapper set on ``html_extract.extract_html``, ``pdf_extract.
    extract_pdf`` or ``clean.clean_text`` sees every call."""
    raw = payload or b""
    if len(raw) > MAX_PAYLOAD_BYTES:
        kind = "oversize"
        res = error_record(f"payload exceeds {MAX_PAYLOAD_BYTES} bytes")
    elif raw.startswith(b"%PDF"):
        kind, res = "pdf", pdf_extract.extract_pdf(raw)
    else:
        kind, res = "html", html_extract.extract_html(raw)
    txt = res["text"]
    res["clean"] = clean.clean_text(txt) if txt is not None else None
    return kind, res
