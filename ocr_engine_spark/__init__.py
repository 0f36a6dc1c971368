"""ocr_engine_spark — a PySpark-native main-content extraction engine.

A brand-new implementation (not a port) of the data-processing
capabilities of the reference repo ``sankalpsthakur/ocr-engine``:
document → extracted text (+ char spans) → cleaned text → structured
fields → accuracy metrics, re-expressed as a ``pyspark.sql`` DataFrame
job over a Common-Crawl-style pages table
``(url string, warc_ts timestamp, html binary, text string, lang string)``
with all per-document work inside Arrow-batched kernels
(``mapInArrow``) — no per-row Python on the hot path.

Layout:
  kernels/    pure-Python, Spark-free extraction kernels (unit-testable)
  engine/     the Spark job: extract, evaluate, catalog (resume/lineage)
  functions/  Column-level ops: text analysis, dedup, similarity search
  fixtures/   deterministic synthetic corpus + golden generation
  sources/    multimodal (binary media) plumbing
  streaming/  incremental ingest wrapper
"""

__version__ = "0.1.0"
