"""Pure-Python extraction kernels (no Spark imports).

Each kernel is a deterministic function over plain Python values. The
Spark layer calls them from one Arrow-batched ``mapInArrow`` stage
(``engine/extract_job.extract_batch_arrow``) through the per-document
step ``document.extract_document``; unit tests exercise them directly
(mirrors the reference's standalone-usable post-processor,
``test/ocr_postprocessing.py:111-136``). Nothing here imports pandas.

Both page kernels return one record shape, the reference's OCRResponse
(surya_service.py:47-53) widened with spans:
``{text, spans, n_blocks, confidence, status, error}``.
"""

from ocr_engine_spark.kernels.clean import clean_text  # noqa: F401


def assemble_blocks(blocks, sep: str) -> dict:
    """The success record of a document made of ``(text, kind, score)``
    blocks in output order: texts joined by ``sep``, one
    ``{start, end, block_id, kind}`` char span per block (``block_id`` =
    index among the emitted blocks), and ``confidence`` = the mean block
    score (the T4 analog of the reference's mean per-line OCR
    confidence, surya_service.py:119-127), summed left to right; None
    when no block was emitted (its confidence_count == 0 case)."""
    spans, pieces = [], []
    pos = 0
    score_total = 0.0
    for block_id, (text, kind, score) in enumerate(blocks):
        spans.append({"start": pos, "end": pos + len(text),
                      "block_id": block_id, "kind": kind})
        pieces.append(text)
        pos += len(text) + len(sep)
        score_total += score
    return {"text": sep.join(pieces), "spans": spans,
            "n_blocks": len(spans),
            "confidence": score_total / len(spans) if spans else None,
            "status": "success", "error": None}


def error_record(message: str) -> dict:
    """The record of a document that could not be extracted (errors are
    data, surya_service.py:150-158)."""
    return {"text": None, "spans": [], "n_blocks": 0, "confidence": None,
            "status": "error", "error": message}
