"""The extraction job: pages table -> extractions table.

Spark lifecycle (the DataFrame mirror of the reference's POST /ocr path,
``api_gateway.py:94-105`` -> ``services/surya/surya_service.py:83-135``):

  read pages (url, warc_ts, html, text, lang)
    -> [repartition(P, xxhash64(url))]       # only when the scan alone
                                             # under-parallelizes
    -> mapInArrow(extract_batch_arrow)       # ONE Arrow-batched Python
         per doc, kernels/document.extract_document:
           size cap + magic-byte payload kind (html | pdf | oversize)
           html: DOM parse + densitometric block scoring
           pdf:  text-layer layout analysis
           + clean_text (5-step pipeline) in the same pass
         + provider + 13 regex fields + raw_response   # T11/T13,
           kernels/fields.py over each doc's cleaned text
         + per-doc timing, per-batch lineage counters
    -> extractions DataFrame

Two plan shapes, chosen from file metadata before any job runs
(``extract_pages``, ``read_pages``):
  one stage    scan (>= 4 splits per slot, or a small local parquet
               corpus cut along its row groups into whole waves) ->
               mapInArrow
  two stages   scan -> Exchange hashpartitioning(xxhash64(url), P) ->
               mapInArrow  (a local corpus whose scan under-parallelizes
               and cannot be cut along row groups; ``partitions=N``)

No per-row Python UDFs anywhere: the only Python stage is one
``mapInArrow`` over whole Arrow batches (the reference's model-per-
request becomes kernel-per-worker: module import = the analog of the
reference's load-models-once-at-startup, surya_service.py:55-75).

Errors are data: a malformed payload yields status='error' + error
message, never a task failure (surya_service.py:150-158).
"""

from __future__ import annotations

import os
import time
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType, TimestampType,
)

from ocr_engine_spark.kernels.fields import FIELD_PATTERNS, bill_row
# re-exported: perfbench estimates the field guards' pass rate with it
from ocr_engine_spark.kernels.fields import _LITERAL_PREFIX_RE  # noqa: F401

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession

SPAN_TYPE = ArrayType(StructType([
    StructField("start", LongType()),
    StructField("end", LongType()),
    StructField("block_id", LongType()),
    StructField("kind", StringType()),
]))

# result contract (the reference's OCRResponse shape, surya_service.py:47-53,
# widened with spans + lineage)
EXTRACT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("lang", StringType()),
    StructField("payload_kind", StringType()),
    StructField("extracted_text", StringType()),
    StructField("clean_text", StringType()),
    StructField("spans", SPAN_TYPE),
    StructField("n_blocks", IntegerType()),
    # T4: mean per-block densitometric score — the OCRResponse.confidence
    # analog (surya_service.py:47-53, :119-127); null when no blocks
    StructField("confidence", DoubleType()),
    StructField("status", StringType()),
    StructField("error", StringType()),
    StructField("processing_ms", DoubleType()),
    StructField("partition_id", IntegerType()),
    StructField("batch_seq", IntegerType()),
    # T11/T13: provider, the regex fields, the parse-failure fallback
    StructField("provider", StringType()),
    *[StructField(name, {"string": StringType(), "long": LongType(),
                         "double": DoubleType()}[typ])
      for name, (_, typ) in FIELD_PATTERNS.items()],
    StructField("raw_response", StringType()),
])

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


# the columns extract_batch_arrow builds per doc, in EXTRACT_SCHEMA order;
# the rest of the schema passes through or is constant per batch
_BUILT_COLUMNS = ("payload_kind", "extracted_text", "clean_text", "spans",
                  "n_blocks", "confidence", "status", "error",
                  "processing_ms", "provider", *FIELD_PATTERNS,
                  "raw_response")


def extract_batch_arrow(batches):
    """The kernel stage over raw Arrow RecordBatches (``mapInArrow``).

    Chosen over mapInPandas deliberately: url/warc_ts/lang/partition_id
    pass through ZERO-COPY (no pandas object materialization either
    way), and the new columns are built with ``pa.array`` directly —
    measured ~25% less wall than a pandas form on a 32 KB-page corpus,
    all of it serialization overhead, none of it kernel work. Kernels
    import lazily per worker (the reference's load-models-once analog,
    surya_service.py:55-75).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ocr_engine_spark.kernels.document import extract_document

    schema = to_arrow_schema(EXTRACT_SCHEMA)
    batch_seq = 0
    for rb in batches:
        col = dict(zip(rb.schema.names, rb.columns))
        rows = []
        for url, payload in zip(col["url"].to_pylist(), col["html"]):
            t0 = time.perf_counter()
            kind, res = extract_document(payload.as_py())
            ms = (time.perf_counter() - t0) * 1000.0
            txt, cleaned = res["text"], res["clean"]
            # delta encoding: clean_text crosses the Arrow socket only
            # when it differs from extracted_text (usually it doesn't —
            # extraction output is already tidy); the JVM-side coalesce
            # in extract_pages restores the full column byte-identically.
            # T11/T13: bill_row reads the full cleaned text
            rows.append((kind, txt, cleaned if cleaned != txt else None,
                         res["spans"], res["n_blocks"], res["confidence"],
                         res["status"], res["error"], ms,
                         *bill_row(cleaned, url)))
        built = (dict(zip(_BUILT_COLUMNS, zip(*rows))) if rows
                 else dict.fromkeys(_BUILT_COLUMNS, ()))
        built["batch_seq"] = [batch_seq] * rb.num_rows
        yield pa.RecordBatch.from_arrays(
            [col[f.name] if f.name in col else pa.array(built[f.name], f.type)
             for f in schema], names=schema.names)
        batch_seq += 1


def _local_paths(df: DataFrame) -> list[str] | None:
    """Local filesystem paths of a file-backed source (file listing
    only, no job); [] = in-memory, None = a remote store."""
    from urllib.parse import unquote, urlparse
    paths = []
    for f in df.inputFiles():
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        paths.append(unquote(u.path))
    return paths


def _local_input_bytes(df: DataFrame) -> int:
    """Total bytes of a LOCAL file-backed source (file listing only, no
    job). 0 = unknown/in-memory; -1 = remote store (trust its scan)."""
    paths = _local_paths(df)
    if paths is None:
        return -1
    try:
        return sum(os.path.getsize(p) for p in paths)
    except OSError:
        return 0


def _size_conf(spark, key: str, default: int) -> int:
    """A Spark size config in bytes; the strings keep their suffix
    ('128m', '64MB', '4194304b', ...). Unparseable reads as ``default``."""
    import re as _re
    conf = spark.conf.get(key, str(default))
    m = _re.match(r"(\d+)\s*([kmgt]?)b?$", str(conf).strip().lower())
    if m:
        return int(m.group(1)) * (
            1024 ** {"": 0, "k": 1, "m": 2, "g": 3, "t": 4}[m.group(2)])
    return default


def _estimated_scan_splits(input_bytes: int) -> int:
    """Metadata-only estimate of how many scan splits a source of
    ``input_bytes`` (``_local_input_bytes``) yields: total bytes /
    spark.sql.files.maxPartitionBytes of the active session. In-memory
    sources (0) estimate 0, i.e. 'under-parallelized' — the safe local
    answer; a table-scale source estimates millions and is never
    shuffled for balance."""
    from pyspark.sql import SparkSession
    if input_bytes < 0:
        return 1 << 30  # remote store: trust the scan's own splits
    split = _size_conf(SparkSession.active(),
                       "spark.sql.files.maxPartitionBytes", 128 << 20)
    return -(-input_bytes // split)


def _task_waves(spark, input_bytes: int, slots: int) -> int:
    """Whole waves of ``slots`` tasks for the kernel stage, 1 to 4 of
    them, about spark.sql.files.openCostInBytes of input per task.
    Unknown size (in-memory 0, remote -1) keeps 4 waves."""
    if input_bytes <= 0:
        return 4
    per_wave = slots * _size_conf(spark, "spark.sql.files.openCostInBytes",
                                  4 << 20)
    return min(4, max(1, -(-input_bytes // per_wave)))


def _row_group_start(rg) -> int:
    """File offset of a parquet row group: its first column chunk's
    dictionary page, else its first data page (parquet-mr's rule)."""
    col = rg.column(0)
    start = col.data_page_offset
    if col.has_dictionary_page and col.dictionary_page_offset < start:
        start = col.dictionary_page_offset
    return start


def _row_group_splits(df: DataFrame, input_bytes: int, slots: int) -> int:
    """How many scan splits a local parquet source is cut into along its
    row groups, or 0 when it is not cut. Reads the parquet footers on
    the driver (metadata only, no Spark job).

    The cut is ``slots * _task_waves`` splits of ``ceil(input_bytes /
    splits)`` bytes each. The scan hands a row group to the split that
    holds its midpoint, so the rows each split would get are known from
    the footers; the cut is made only when the files cut into exactly
    that many byte ranges, there are at least 3 row groups per split,
    and every split gets rows with none over 4/3 of the mean (a large
    footer, e.g. min/max statistics of the payload column, can push the
    last row groups into one short split)."""
    if input_bytes <= 0:
        return 0
    import pyarrow.parquet as pq
    splits = slots * _task_waves(df.sparkSession, input_bytes, slots)
    target = -(-input_bytes // splits)
    rows: list[int] = []  # per byte range, over all files
    row_groups = 0
    try:
        for path in _local_paths(df):
            per_range = [0] * -(-os.path.getsize(path) // target)
            meta = pq.read_metadata(path)
            for i in range(meta.num_row_groups):
                rg = meta.row_group(i)
                mid = _row_group_start(rg) + sum(
                    rg.column(j).total_compressed_size
                    for j in range(rg.num_columns)) // 2
                per_range[mid // target] += rg.num_rows
            rows += per_range
            row_groups += meta.num_row_groups
    except (OSError, ValueError, IndexError):  # gone, or not parquet
        return 0
    if len(rows) != splits or row_groups < 3 * splits or min(rows) == 0 \
            or max(rows) * 3 * splits > sum(rows) * 4:
        return 0
    return splits


def extract_pages(pages: DataFrame, *, partitions: int | None = None,
                  with_fields: bool = True) -> DataFrame:
    """pages DataFrame -> extractions DataFrame.

    Load-balancing: per-doc cost varies ~10x between PDF layout and
    HTML, so the kernel stage wants several tasks per slot to amortize
    stragglers. But an unconditional ``repartition`` shuffles the FULL
    payload bytes — at table scale that is a 100 TB shuffle bought only
    for load-balancing. The url-hash shuffle is therefore bought ONLY
    when the scan under-parallelizes (input splits < 4 tasks per
    executor slot — true for a small/one-file corpus, never true for a
    10^12-row table whose scan yields millions of size-bounded splits)
    and the source cannot be cut along its row groups into whole waves
    instead (``_row_group_splits``; ``read_pages`` makes that cut, and
    the shuffle is skipped when the scan yields it). The 4x margin
    matters empirically, not just for stragglers: a scan that clears
    an ``< slots`` test can still schedule as 2 ragged waves.

    How many tasks the balance shuffle makes is sized by input bytes:
    ``slots * clamp(ceil(bytes / (slots * openCost)), 1, 4)`` with
    ``openCost`` = spark.sql.files.openCostInBytes (4 MB default) —
    Spark's own estimate, in bytes, of a split's fixed cost, and the
    floor the file scan puts on split size. Every wave is full (no
    ragged waves), there are never fewer tasks than slots, and a task
    never gets much less input than its fixed cost is worth: each task
    costs ~70-85 ms of JVM plus Python worker CPU before any kernel
    work (measured at local[4] as the difference between 16 and 4
    balance tasks), more than the kernel work of a 1/16 share of a
    1-5 MB corpus. So a corpus under ``slots * openCost`` gets one task
    per slot, and 4 tasks per slot only above ``3 * slots * openCost``.
    Unknown size (in-memory) keeps 4 tasks per slot. A row-group cut
    makes the same number of scan tasks.

    ``partitions=N`` forces the shuffle into ``N`` tasks (layout-known-
    bad inputs). A streaming input never shuffles unless forced:
    micro-batch sizing governs its parallelism. Hash key xxhash64(url)
    is skew-free by construction (urls unique); for host-keyed
    downstream ops use functions/skew.py salting.
    """
    spark = pages.sparkSession
    slots = spark.sparkContext.defaultParallelism
    staged = pages.select("url", "warc_ts", "html", "lang")  # column
    # pruning: never carry the naive `text` dump into the kernel stage
    if partitions is None and not staged.isStreaming:
        input_bytes = _local_input_bytes(staged)
        scan_splits = _estimated_scan_splits(input_bytes)
        if scan_splits < slots * 4:
            cut = _row_group_splits(staged, input_bytes, slots)
            if not cut or scan_splits < cut:
                partitions = slots * _task_waves(spark, input_bytes, slots)
    if partitions is not None:
        staged = staged.repartition(partitions, F.xxhash64("url"))
    staged = staged.withColumn("partition_id", F.spark_partition_id())
    out = staged.mapInArrow(extract_batch_arrow, EXTRACT_SCHEMA)
    # undo the kernel's clean_text delta encoding (null == "same as
    # extracted_text"); error rows have both null, which coalesce keeps
    out = out.withColumn("clean_text",
                         F.coalesce("clean_text", "extracted_text"))
    if not with_fields:
        out = out.drop(*FIELD_PATTERNS, "raw_response")
    return out


def read_pages(spark: "SparkSession", path: str) -> DataFrame:
    """Catalog-agnostic pages scan (Iceberg table name or parquet path —
    sandbox has no Iceberg jars; see engine/catalog.py seam).

    When a LOCAL corpus layout under-parallelizes the scan (< 4 splits
    per executor slot — the one-big-file fixture regime), lower
    ``spark.sql.files.maxPartitionBytes`` so the SCAN ITSELF yields
    that parallelism instead of letting extract_pages buy a
    full-payload repartition (parquet can't split finer than a row
    group; the fixture writer uses 512-row groups precisely so it can):
      * a parquet corpus with enough row groups (``_row_group_splits``)
        is cut into ``slots * waves`` splits of ``ceil(bytes /
        splits)`` — whole waves, no task over 4/3 of the mean, and
        extract_pages then runs no shuffle at all;
      * any other corpus gets splits of ``bytes / (4 * slots)``, with
        a 16 MB floor so a tiny corpus never degenerates to
        per-row-group tasks (extract_pages load-balances what is left
        with its cheap shuffle).
    Only the row-group cut goes below the 16 MB floor, and never to
    more than ``slots * 4`` tasks. NOTE: this sets a SESSION conf
    (file-scan splits are decided at execution time from the session
    conf, a per-read option does not exist) — it only ever lowers the
    value, and a 10^12-row table never triggers it (its scan already
    yields millions of splits). Remote stores are untouched."""
    df = spark.read.schema(PAGES_SCHEMA).parquet(path)
    slots = spark.sparkContext.defaultParallelism
    total = _local_input_bytes(df)
    want = slots * 4
    split = _size_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
    if total > 0 and -(-total // split) < want:
        cut = _row_group_splits(df, total, slots)
        target = -(-total // cut) if cut else max(16 << 20, total // want)
        if target < split:
            spark.conf.set("spark.sql.files.maxPartitionBytes",
                           str(int(target)))
            df = spark.read.schema(PAGES_SCHEMA).parquet(path)
    return df
