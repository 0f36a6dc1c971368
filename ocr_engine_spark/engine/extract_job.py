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

Two plan shapes, chosen by one planner (``_plan_scan``, called by
``extract_pages``) from the input's file metadata before any job runs:
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
import re
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


def _input_files(df: DataFrame) -> list[tuple[str, int]] | None:
    """``(path, bytes)`` of every file a LOCAL file-backed source reads
    (one file listing, no job); [] = in-memory, None = a remote store."""
    from urllib.parse import unquote, urlparse
    files = []
    for f in df.inputFiles():
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        path = unquote(u.path)
        files.append((path, os.path.getsize(path)))
    return files


def _size_conf(conf, key: str, default: int) -> int:
    """A size config of ``conf`` (a SparkConf or ``spark.conf``) in bytes;
    the strings keep their suffix ('128m', '64MB', '4194304b', ...).
    Unparseable reads as ``default``."""
    m = re.match(r"(\d+)\s*([kmgt]?)b?$",
                 str(conf.get(key, str(default))).strip().lower())
    if m:
        return int(m.group(1)) * (
            1024 ** {"": 0, "k": 1, "m": 2, "g": 3, "t": 4}[m.group(2)])
    return default


def _row_group_start(rg) -> int:
    """File offset of a parquet row group: its first column chunk's
    dictionary page, else its first data page (parquet-mr's rule)."""
    col = rg.column(0)
    start = col.data_page_offset
    if col.has_dictionary_page and col.dictionary_page_offset < start:
        start = col.dictionary_page_offset
    return start


def _plan_scan(df: DataFrame) -> tuple[int, int | None]:
    """The extraction plan of ``df``: ``(scan split bytes, balance
    tasks)``, None tasks meaning no balance shuffle. Decided on the
    driver from one file listing and at most one read of the parquet
    footers (metadata only, no Spark job), from the input alone: the
    base split is the one the session was LAUNCHED with (``build_session``
    sets 64 MB), never the value an earlier plan applied.

    ``slots * 4`` scan splits at the base split, a streaming input and a
    remote store (trusted to split its own scan) keep the base split and
    run no shuffle; that is every 10^12-row table, whose scan yields
    millions of size-bounded splits. Below that, the kernel stage gets
    ``slots * waves`` tasks, ``waves = clamp(ceil(bytes / (slots *
    openCost)), 1, 4)`` with ``openCost`` = spark.sql.files.
    openCostInBytes (4 MB by default): Spark's own estimate of a split's
    fixed cost, here the ~70-85 ms of JVM and Python-worker CPU a task
    costs before any kernel work (measured at local[4] as the difference
    between 16 and 4 balance tasks). Every wave is full, and a task never
    gets much less input than that cost is worth. An in-memory source
    (size unknown) gets 4 waves through the shuffle. A local parquet
    corpus is split at the source when its footers allow it:
      * cut along its row groups into ``slots * waves`` splits of
        ``ceil(bytes / splits)`` bytes, no shuffle. The scan hands a row
        group to the split that holds its midpoint, so the footers give
        each split's rows; the cut is made only when the files cut into
        exactly that many byte ranges, with at least 3 row groups per
        split and every split non-empty and none over 4/3 of the mean
        rows (a large footer, e.g. min/max statistics of the payload
        column, can push the last row groups into one short split);
      * otherwise splits of ``bytes / (slots * 4)`` with a 16 MB floor
        (parquet cannot split finer than a row group, and a tiny corpus
        must not become per-row-group tasks), and the url-hash shuffle
        when even that scan stays under ``slots * 4`` splits.
    Any other local source (WARC files) keeps the base split and runs
    the shuffle."""
    import pyarrow.parquet as pq
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    # the context's own SparkConf: getConf() would copy every entry over
    # py4j, ~35 ms of driver CPU per call
    base = _size_conf(spark.sparkContext._conf,
                      "spark.sql.files.maxPartitionBytes", 128 << 20)
    files = None if df.isStreaming else _input_files(df)
    if files is None:
        return base, None
    total, want = sum(size for _, size in files), slots * 4
    if not total:  # in-memory: size unknown
        return base, want
    if -(-total // base) >= want:
        return base, None
    open_cost = _size_conf(spark.conf, "spark.sql.files.openCostInBytes",
                           4 << 20)
    splits = slots * min(4, -(-total // (slots * open_cost)))
    target = -(-total // splits)
    rows: list[int] = []  # per byte range of `target`, over all files
    row_groups = 0
    try:
        for path, size in files:
            per_range = [0] * -(-size // target)
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
        return base, splits
    if len(rows) == splits and row_groups >= 3 * splits and min(rows) \
            and max(rows) * 3 * splits <= sum(rows) * 4:
        return target, None
    split = min(base, max(16 << 20, total // want))
    return split, None if -(-total // split) >= want else splits


def extract_pages(pages: DataFrame, *, partitions: int | None = None,
                  with_fields: bool = True) -> DataFrame:
    """pages DataFrame -> extractions DataFrame.

    Load-balancing: per-doc cost varies ~10x between PDF layout and
    HTML, so the kernel stage wants several tasks per slot to amortize
    stragglers, but an unconditional ``repartition`` shuffles the FULL
    payload bytes (a 100 TB shuffle at table scale). ``_plan_scan``
    decides the plan from the input: the scan split, which is applied to
    the session here (file-scan splits are read from the session conf
    when the scan runs; no per-read option exists), and whether the
    xxhash64(url) balance shuffle runs and into how many tasks. The
    shuffle runs only when the scan under-parallelizes (< 4 splits per
    slot: a small or one-file corpus, never a 10^12-row table) and the
    source cannot be cut along its row groups into whole waves instead.
    The 4x margin matters empirically, not just for stragglers: a scan
    that clears an ``< slots`` test can still schedule as 2 ragged waves.

    ``partitions=N`` forces the shuffle into ``N`` tasks (layout-known-
    bad inputs); the split is applied all the same. A streaming input
    never shuffles unless forced: micro-batch sizing governs its
    parallelism. Hash key xxhash64(url) is skew-free by construction
    (urls unique); for host-keyed downstream ops use functions/skew.py
    salting.
    """
    staged = pages.select("url", "warc_ts", "html", "lang")  # column
    # pruning: never carry the naive `text` dump into the kernel stage
    split, tasks = _plan_scan(staged)
    pages.sparkSession.conf.set("spark.sql.files.maxPartitionBytes",
                                str(split))
    tasks = tasks if partitions is None else partitions
    if tasks is not None:
        staged = staged.repartition(tasks, F.xxhash64("url"))
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
    sandbox has no Iceberg jars; see engine/catalog.py seam). Its scan
    split is planned by ``extract_pages`` (``_plan_scan``)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)
