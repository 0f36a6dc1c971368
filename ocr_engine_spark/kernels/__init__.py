"""Pure-Python extraction kernels (no Spark imports).

Each kernel is a deterministic function over plain Python values. The
Spark layer calls them from one Arrow-batched ``mapInArrow`` stage
(``engine/extract_job.extract_batch_arrow``); unit tests exercise them
directly (mirrors the reference's standalone-usable post-processor,
``test/ocr_postprocessing.py:111-136``). Nothing here imports pandas.
"""

from ocr_engine_spark.kernels.clean import clean_text  # noqa: F401
