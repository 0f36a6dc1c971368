"""End-to-end Spark extraction job tests: the byte-identity gate."""

import os

import pyspark.sql.functions as F
import pytest


def test_extraction_byte_identical_on_clean_corpus(extractions_df, golden_df):
    """Every clean page's extracted text must equal its golden byte-for-
    byte — the north_rule invariant (the Spark analog of the reference's
    CER==0 claim on its golden fixtures, README.md:8)."""
    joined = extractions_df.join(
        F.broadcast(golden_df.select("url", "raw_text", "clean_text"
                                     ).withColumnRenamed("clean_text", "g_clean")),
        "url", "inner")
    n_golden = golden_df.count()
    n_joined = joined.count()
    assert n_joined == n_golden
    mismatches = joined.filter(
        (F.col("extracted_text") != F.col("raw_text"))
        | (F.col("clean_text") != F.col("g_clean"))).count()
    assert mismatches == 0
    assert joined.filter(F.col("status") != "success").count() == 0


def test_spans_match_golden(extractions_df, golden_df):
    joined = extractions_df.select("url", "spans").join(
        golden_df.select("url", F.col("spans").alias("g_spans")), "url")
    bad = joined.filter(F.to_json("spans") != F.to_json("g_spans")).count()
    assert bad == 0


def test_fields_match_golden(extractions_df, golden_fields_df):
    from ocr_engine_spark.kernels.fields import FIELD_PATTERNS
    field_names = list(FIELD_PATTERNS)
    ours = extractions_df.select("url", *field_names)
    golden = golden_fields_df
    joined = ours.join(
        F.broadcast(golden.select(
            "url", *[F.col(c).alias(f"g_{c}") for c in field_names])),
        "url", "inner")
    assert joined.count() == golden.count()
    for c in field_names:
        bad = joined.filter(
            ~(F.col(c).eqNullSafe(F.col(f"g_{c}")))).count()
        assert bad == 0, f"field mismatch: {c}"


def test_provider_detection_column(extractions_df):
    rows = extractions_df.filter(F.col("url").contains("/bills/")).select(
        "url", "provider").collect()
    assert rows
    for r in rows:
        assert (("dewa" in r.url) == (r.provider == "DEWA"))
        assert (("sewa" in r.url) == (r.provider == "SEWA"))


def test_errors_are_data_not_failures(spark):
    """Poison payloads produce status='error' rows, never task failures
    (surya_service.py:150-158 discipline)."""
    import datetime
    from ocr_engine_spark.engine.extract_job import PAGES_SCHEMA, extract_pages
    ts = datetime.datetime(2025, 5, 1)
    rows = [
        ("u://good", ts, b"<body><p>good page with plenty of words to "
                         b"pass the content threshold here</p></body>",
         "", "en"),
        ("u://null-payload", ts, None, "", "en"),
        ("u://pdf-garbage.pdf", ts, b"%PDF-1.4\x00\xff garbage", "", "en"),
    ]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    out = extract_pages(df).select("url", "status", "extracted_text").collect()
    by_url = {r.url: r for r in out}
    assert by_url["u://good"].status == "success"
    assert len(out) == 3  # nothing dropped, nothing raised


def test_no_per_row_python_in_plan(pages_df):
    """The physical plan must contain exactly one Arrow-batched Python
    stage (mapInArrow) and no row-at-a-time PythonUDF/BatchEvalPython
    (input_hint: 'no per-row Python'). Also: the shuffle feeding the
    kernel must never carry the naive `text` dump (column pruning)."""
    from ocr_engine_spark.engine.extract_job import extract_pages
    # partitions=7 keeps this logical plan distinct from the session-
    # cached extractions_df fixture (no InMemoryRelation substitution)
    df = extract_pages(pages_df, partitions=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInArrow") == 1
    scan_line = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    assert ",text#" not in scan_line and "[text#" not in scan_line


def test_lineage_columns_present(extractions_df):
    import pyspark.sql.functions as F
    stats = extractions_df.agg(
        F.countDistinct("partition_id").alias("nparts"),
        F.min("processing_ms").alias("min_ms")).collect()[0]
    assert stats.nparts >= 1
    assert stats.min_ms >= 0.0


def test_confidence_column(extractions_df):
    """T4 parity: per-doc mean block confidence in [0,1], non-null
    whenever blocks were emitted, null on empty/error docs."""
    stats = extractions_df.agg(
        F.min("confidence").alias("lo"), F.max("confidence").alias("hi"),
        F.sum(((F.col("n_blocks") > 0) & F.col("confidence").isNull())
              .cast("long")).alias("n_missing")).collect()[0]
    assert stats.n_missing == 0
    assert 0.0 <= stats.lo <= stats.hi <= 1.0
    # deterministic: two runs agree exactly
    a = {r.url: r.confidence
         for r in extractions_df.select("url", "confidence").collect()}
    assert len(set(a.values())) > 1  # not a constant column


def test_raw_response_fallback(spark):
    """T13 parity (qwen_service.py:245-252): a bill-like (provider-
    detected) document where every field regex misses carries its full
    cleaned text in raw_response; parsed bills and non-bill pages get
    null."""
    import datetime
    from ocr_engine_spark.engine.extract_job import PAGES_SCHEMA, extract_pages
    from ocr_engine_spark.kernels.fields import extract_fields
    ts = datetime.datetime(2025, 5, 1)
    filler = b" where the neighbours rescue pass needs plenty of words"
    rows = [
        ("u://bills/dewa_unparseable.html", ts,
         b"<body><p>Dear customer your statement could not be itemised"
         + filler + b"</p></body>", "", "en"),
        ("u://bills/dewa_ok.html", ts,
         b"<body><p>Account Number: 2052672303 for this billing cycle"
         + filler + b"</p></body>", "", "en"),
        ("u://blog/post.html", ts,
         b"<body><p>An ordinary web page about nothing in particular"
         + filler + b"</p></body>", "", "en"),
    ]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    got = {r.url: r for r in extract_pages(df)
           .select("url", "clean_text", "account_number",
                   "raw_response").collect()}
    unparse = got["u://bills/dewa_unparseable.html"]
    assert unparse.raw_response == unparse.clean_text
    assert got["u://bills/dewa_ok.html"].raw_response is None
    assert got["u://bills/dewa_ok.html"].account_number == "2052672303"
    assert got["u://blog/post.html"].raw_response is None
    # pure-kernel twin agrees (shared rule)
    k = extract_fields(unparse.clean_text,
                       url="u://bills/dewa_unparseable.html")
    assert k["raw_response"] == unparse.clean_text
    k2 = extract_fields(got["u://blog/post.html"].clean_text,
                        url="u://blog/post.html")
    assert k2["raw_response"] is None


def _below_kernel(df) -> str:
    """The executed plan upstream of the kernel stage (``MapInArrow``)."""
    return (df._jdf.queryExecution().executedPlan().toString()
            .split("MapInArrow")[-1])


def _launch_split(spark) -> int:
    """The scan split the session was launched with: the planner's base."""
    from ocr_engine_spark.engine import extract_job
    return extract_job._size_conf(spark.sparkContext._conf,
                                  "spark.sql.files.maxPartitionBytes",
                                  128 << 20)


def _balance_tasks(spark, input_bytes: int) -> int:
    """``slots * clamp(ceil(bytes / (slots * openCost)), 1, 4)``."""
    from ocr_engine_spark.engine import extract_job
    slots = spark.sparkContext.defaultParallelism
    open_cost = extract_job._size_conf(
        spark.conf, "spark.sql.files.openCostInBytes", 4 << 20)
    return slots * min(4, max(1, -(-input_bytes // (slots * open_cost))))


def test_balance_modes_plan(pages_df, monkeypatch):
    """The default shuffles only when the scan under-parallelizes; a
    scan that already yields enough splits never buys the
    full-payload shuffle (the default path at table scale has NO
    Exchange before the kernel stage); ``partitions`` forces it."""
    from ocr_engine_spark.engine import extract_job

    forced = extract_job.extract_pages(pages_df, partitions=3,
                                       with_fields=False)
    assert "Exchange" in _below_kernel(forced)
    # this corpus is one small file -> fewer scan splits than slots ->
    # auto must load-balance
    auto = extract_job.extract_pages(pages_df, with_fields=False)
    assert "Exchange" in _below_kernel(auto)
    # a remote store is trusted to split its own scan
    monkeypatch.setattr(extract_job, "_input_files", lambda df: None)
    never = extract_job.extract_pages(pages_df, with_fields=False)
    assert "Exchange" not in _below_kernel(never)


def test_auto_balance_wants_four_tasks_per_slot(pages_df, monkeypatch,
                                               tmp_path):
    """Regression for the 2->8 scaling cliff: a scan whose split count
    clears `slots` but not `4*slots` schedules as ~2 ragged waves
    (+28% wall measured at pinned 8 cores on a one-file 850 MB corpus),
    so 'auto' must still buy the balance shuffle in that band — and
    must NOT once the scan yields >= 4 tasks per slot (the table-scale
    regime, where the shuffle would move the full payload bytes). The
    input is listed as one file with no parquet footer (a WARC file),
    which the scan splits at the launch split."""
    from ocr_engine_spark.engine import extract_job

    spark = pages_df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    base = _launch_split(spark)

    def plan(scan_splits: int) -> str:
        monkeypatch.setattr(
            extract_job, "_input_files",
            lambda df: [(str(tmp_path / "seg.warc"), scan_splits * base)])
        return _below_kernel(extract_job.extract_pages(pages_df,
                                                       with_fields=False))

    assert "Exchange" in plan(slots * 2)
    assert "Exchange" not in plan(slots * 4)


def test_balance_partitions_sized_by_input_bytes(pages_df, monkeypatch,
                                                 tmp_path):
    """The balance shuffle makes whole waves of `slots` tasks, about
    spark.sql.files.openCostInBytes of input per task, 1 to 4 waves;
    an in-memory source keeps 4 waves, a remote store none, and an
    explicit `partitions` wins."""
    import re

    from ocr_engine_spark.engine import extract_job

    spark = pages_df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    open_cost = extract_job._size_conf(
        spark.conf, "spark.sql.files.openCostInBytes", 4 << 20)

    def balance_tasks(files, launch_split=None, **kw):
        monkeypatch.setattr(extract_job, "_input_files", lambda df: files)
        if launch_split is not None:  # a session launched with this split
            monkeypatch.setattr(
                spark.sparkContext, "_conf", spark.sparkContext.getConf().set(
                    "spark.sql.files.maxPartitionBytes", str(launch_split)))
        plan = _below_kernel(
            extract_job.extract_pages(pages_df, with_fields=False, **kw))
        # a cached extraction with the same plan shows up as its
        # InMemoryRelation, which prints the same exchange again
        found = set(re.findall(r"hashpartitioning\(xxhash64\(url#\d+, "
                               r"42\), (\d+)\)", plan))
        assert len(found) <= 1
        return int(found.pop()) if found else None

    def one_file(size):  # with no parquet footer, as a WARC file
        return [(str(tmp_path / "seg.warc"), size)]

    assert balance_tasks([]) == slots * 4  # in-memory: size unknown
    assert balance_tasks(one_file(1 << 20)) == slots
    assert balance_tasks(one_file(int(2.5 * slots * open_cost))) == slots * 3
    assert balance_tasks(one_file(1 << 20), partitions=7) == 7
    # 1 TB and a remote store, in a session launched with a split that
    # leaves a 1 TB scan one split
    assert balance_tasks(one_file(1 << 40), launch_split=1 << 41) \
        == slots * 4
    assert balance_tasks(None, launch_split=1 << 41) is None


def test_oversize_payload_guard(monkeypatch):
    """Reference parity (Claude.md:204, 50 MB upload cap): oversized
    payloads become error records without entering the kernels. Tested
    through the in-process Arrow kernel with a lowered cap."""
    import datetime

    import pyarrow as pa

    from ocr_engine_spark.engine import extract_job as ej
    from ocr_engine_spark.kernels import document
    monkeypatch.setattr(document, "MAX_PAYLOAD_BYTES", 4096)
    rb = pa.RecordBatch.from_pydict({
        "url": ["u://big", "u://ok"],
        "warc_ts": pa.array([datetime.datetime(2025, 5, 1)] * 2,
                            pa.timestamp("us", tz="UTC")),
        "html": pa.array([b"x" * 5000,
                          b"<p>small page with plenty of words to pass the "
                          b"content threshold in one block</p>"],
                         pa.binary()),
        "lang": ["en", "en"],
        "partition_id": pa.array([0, 0], pa.int32())})
    out = next(ej.extract_batch_arrow(iter([rb])))
    assert out.schema.names == [f.name for f in ej.EXTRACT_SCHEMA.fields]
    big, ok = out.to_pylist()
    assert big["status"] == "error" and "exceeds" in big["error"]
    assert big["payload_kind"] == "oversize"
    assert big["extracted_text"] is None and big["clean_text"] is None
    assert ok["status"] == "success" and ok["payload_kind"] == "html"
    assert ok["url"] == "u://ok" and ok["batch_seq"] == 0


def test_arrow_stage_and_frozen_fixture_agree_on_edge_payloads(
        monkeypatch, tmp_path):
    """The Spark kernel stage and the kernel-direct frozen oracle fixture
    run the same per-document step, so they give the same record for
    payloads that never reach a kernel or fail inside one: NULL, empty,
    oversize (cap lowered), `%PDF` garbage with and without a corrupt
    Flate stream, and non-UTF-8 HTML declaring its charset."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_engine_spark.engine.extract_job import extract_batch_arrow
    from ocr_engine_spark.fixtures.frozen import (
        FROZEN_NAME, freeze_extractions,
    )
    from ocr_engine_spark.kernels import document

    monkeypatch.setattr(document, "MAX_PAYLOAD_BYTES", 4096)
    payloads = {
        "u://null": None,
        "u://empty": b"",
        "u://oversize": b"<p>" + b"word " * 1000 + b"</p>",
        "u://pdf_garbage": b"%PDF\x00\xff not a pdf at all",
        "u://pdf_bad_flate": (
            b"%PDF-1.4\n1 0 obj << /Type /Pages /Kids [2 0 R] >> endobj\n"
            b"2 0 obj << /Type /Page /Contents 3 0 R >> endobj\n"
            b"3 0 obj << /Length 8 /Filter /FlateDecode >>\nstream\n"
            b"notzlib!\nendstream\nendobj\n"),
        "u://latin1": (
            '<html><head><meta charset="iso-8859-1"></head><body><p>'
            'Caf\xe9 cr\xe8me br\xfbl\xe9e, served warm with a spoon and '
            'a glass of water</p></body></html>').encode("latin-1"),
    }
    urls = list(payloads)
    html = pa.array(list(payloads.values()), pa.binary())
    rb = pa.RecordBatch.from_pydict({
        "url": urls,
        "warc_ts": pa.array([datetime.datetime(2025, 5, 1)] * len(urls),
                            pa.timestamp("us", tz="UTC")),
        "html": html, "lang": ["en"] * len(urls),
        "partition_id": pa.array([0] * len(urls), pa.int32())})
    stage = {r["url"]: r for b in extract_batch_arrow(iter([rb]))
             for r in b.to_pylist()}
    for r in stage.values():  # extract_pages' delta decode
        if r["clean_text"] is None:
            r["clean_text"] = r["extracted_text"]
    pq.write_table(pa.table({"url": urls, "html": html}),
                   tmp_path / "pages.parquet")
    freeze_extractions(str(tmp_path))
    frozen = {r["url"]: r
              for r in pq.read_table(tmp_path / FROZEN_NAME).to_pylist()}

    cols = ("payload_kind", "extracted_text", "clean_text", "confidence",
            "status")
    for url in urls:
        assert ({c: stage[url][c] for c in cols}
                == {c: frozen[url][c] for c in cols}), url
    got = {u: (r["payload_kind"], r["status"]) for u, r in stage.items()}
    assert got == {
        "u://null": ("html", "success"), "u://empty": ("html", "success"),
        "u://oversize": ("oversize", "error"),
        "u://pdf_garbage": ("pdf", "success"),
        "u://pdf_bad_flate": ("pdf", "error"),
        "u://latin1": ("html", "success")}
    assert "Caf\xe9 cr\xe8me br\xfbl\xe9e" in stage["u://latin1"]["clean_text"]


@pytest.fixture(scope="module")
def cut_corpus(tmp_path_factory) -> str:
    """200 Common-Crawl-weight pages (~32 KB) in 16-row groups: a small
    one-file corpus that is cut along its row groups."""
    from ocr_engine_spark.fixtures.gen_pages import write
    return write(str(tmp_path_factory.mktemp("pages_rg16")), n_pages=200,
                 seed=7, para_scale=48, row_group_size=16)["pages"]


@pytest.fixture(scope="module")
def wide_corpus(tmp_path_factory) -> str:
    """1,200 Common-Crawl-weight pages in 512-row groups: one file over
    the 16 MB split floor, with too few row groups to cut."""
    from ocr_engine_spark.fixtures.gen_pages import write
    return write(str(tmp_path_factory.mktemp("pages_autosplit")),
                 n_pages=1200, seed=7, para_scale=48)["pages"]


def test_read_pages_autosplit(spark, wide_corpus, tmp_path):
    """A one-file corpus that would under-parallelize the scan gets
    split at the SOURCE: ``extract_pages`` lowers the session's
    maxPartitionBytes below the launch split, to no less than the 16 MB
    floor, so auto-balance never buys the full-payload shuffle when the
    scan yields >= 4 tasks/slot."""
    from ocr_engine_spark.engine.extract_job import (
        extract_pages, read_pages,
    )
    from ocr_engine_spark.fixtures.gen_pages import write

    pages = read_pages(spark, wide_corpus)
    out = extract_pages(pages, with_fields=False)
    split = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    assert 16 << 20 <= split < _launch_split(spark)  # source-split fired
    n_splits = pages.rdd.getNumPartitions()
    assert n_splits > 1
    if n_splits >= spark.sparkContext.defaultParallelism * 4:
        assert "Exchange" not in _below_kernel(out)
    assert out.count() == pages.count()  # generator adds variants

    # tiny corpus: floor keeps it one split; auto-balance still buys
    # the (cheap) shuffle downstream
    tiny = str(tmp_path / "pages_tiny")
    write(tiny, n_pages=60, seed=7)
    tpages = read_pages(spark, tiny + "/pages.parquet")
    tout = extract_pages(tpages, with_fields=False)
    assert tpages.rdd.getNumPartitions() == 1
    assert "Exchange" in _below_kernel(tout)


def test_read_pages_cuts_row_groups_into_whole_waves(spark, cut_corpus,
                                                      tmp_path):
    """A small one-file corpus with >= 3 row groups per split is cut
    along its row groups into ``slots * waves`` scan tasks and runs with
    no balance Exchange; the rows are those of the forced shuffle.
    Corpora the cut cannot split evenly keep their Exchange: 3 row
    groups, and light pages whose footer (the payload column's min/max
    statistics) takes a fifth of the file, which would leave the last
    byte range one short row group."""
    import pyarrow.parquet as pq

    from ocr_engine_spark.engine import extract_job
    from ocr_engine_spark.fixtures.gen_pages import write

    def auto_plan(path) -> str:
        return _below_kernel(extract_job.extract_pages(
            extract_job.read_pages(spark, path), with_fields=False))

    slots = spark.sparkContext.defaultParallelism
    splits = _balance_tasks(spark, os.path.getsize(cut_corpus))
    assert pq.read_metadata(cut_corpus).num_row_groups >= 3 * splits
    pages = extract_job.read_pages(spark, cut_corpus)
    out = extract_job.extract_pages(pages)
    assert "Exchange" not in _below_kernel(out)
    assert pages.rdd.getNumPartitions() == splits
    per_task = [r["count"] for r in
                out.groupBy("partition_id").count().collect()]
    assert len(per_task) == splits  # every task is non-empty
    assert max(per_task) * splits <= sum(per_task) * 4 / 3

    drop = ("partition_id", "batch_seq", "processing_ms")
    cut_rows = {r["url"]: r for r in out.drop(*drop).collect()}
    forced = extract_job.extract_pages(pages, partitions=slots)
    assert "Exchange" in _below_kernel(forced)
    assert cut_rows == {r["url"]: r for r in forced.drop(*drop).collect()}

    # 3 row groups: a cut would leave some splits empty
    n_rows = pq.read_metadata(cut_corpus).num_rows
    three = write(str(tmp_path / "pages_rg3"), n_pages=200, seed=7,
                  para_scale=48, row_group_size=-(-n_rows // 3))["pages"]
    assert pq.read_metadata(three).num_row_groups == 3
    assert "Exchange" in auto_plan(three)
    if slots > 1:  # one split per slot would hold the whole file
        light = write(str(tmp_path / "pages_light"), n_pages=200,
                      seed=7, row_group_size=16)["pages"]
        assert pq.read_metadata(light).num_row_groups >= 3 * slots
        assert "Exchange" in auto_plan(light)


def test_extraction_plan_ignores_the_corpus_before_it(spark, cut_corpus,
                                                       wide_corpus):
    """The plan is decided from the input alone. A corpus extracted
    right after a row-group cut (which applies a sub-MB scan split to
    the session) gets the plan a fresh session gives it: the balance
    Exchange of ``slots * waves`` tasks, every one non-empty. Planned
    from the cut's split instead, its 3 row groups would scan as dozens
    of tasks, all but 3 empty, with no Exchange."""
    import re

    from ocr_engine_spark.engine.extract_job import extract_pages, read_pages

    cut = extract_pages(read_pages(spark, cut_corpus), with_fields=False)
    assert "Exchange" not in _below_kernel(cut)
    out = extract_pages(read_pages(spark, wide_corpus), with_fields=False)
    tasks = _balance_tasks(spark, os.path.getsize(wide_corpus))
    assert set(re.findall(r"hashpartitioning\(xxhash64\(url#\d+, 42\), "
                          r"(\d+)\)", _below_kernel(out))) == {str(tasks)}
    assert out.groupBy("partition_id").count().count() == tasks


# the extraction output contract: (name, type) in order, as the job has
# always produced it
EXTRACT_COLUMNS = [
    ("url", "string"), ("warc_ts", "timestamp"), ("lang", "string"),
    ("payload_kind", "string"), ("extracted_text", "string"),
    ("clean_text", "string"),
    ("spans", "array<struct<start:bigint,end:bigint,block_id:bigint,"
              "kind:string>>"),
    ("n_blocks", "int"), ("confidence", "double"), ("status", "string"),
    ("error", "string"), ("processing_ms", "double"),
    ("partition_id", "int"), ("batch_seq", "int"), ("provider", "string"),
    ("account_number", "string"), ("invoice_number", "string"),
    ("bill_date", "string"), ("billing_period", "string"),
    ("total_amount", "double"), ("currency", "string"),
    ("electricity_kwh", "bigint"), ("water_m3", "double"),
    ("carbon_kg_co2e", "bigint"), ("meter_number", "string"),
    ("current_reading", "bigint"), ("previous_reading", "bigint"),
    ("vat_number", "string"), ("raw_response", "string"),
]


def test_plan_fields_in_the_arrow_pass_and_schema_pinned(pages_df):
    """Provider, fields and raw_response come out of the one Arrow
    stage: no JVM regex in the executed plan, and the output columns
    keep their names, order and types."""
    from ocr_engine_spark.engine.extract_job import extract_pages
    from ocr_engine_spark.kernels.fields import FIELD_PATTERNS
    # .limit() keeps the plan from unifying with the cached fixture
    df = extract_pages(pages_df.limit(7))
    df.collect()  # AQE: the FINAL plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInArrow") == 1
    assert "regexp_extract" not in plan.lower()
    assert [(f.name, f.dataType.simpleString())
            for f in df.schema.fields] == EXTRACT_COLUMNS
    lean = extract_pages(pages_df.limit(7), with_fields=False)
    dropped = {*FIELD_PATTERNS, "raw_response"}
    assert len(dropped) == 14
    assert lean.schema.names == [n for n, _ in EXTRACT_COLUMNS
                                 if n not in dropped]


def test_field_values_past_int64_are_null_not_job_failures(spark):
    """Errors are data: a digit run past int64 in any long field (Spark's
    ANSI cast would abort the whole job) reads NULL on a success row;
    a 400-digit amount reads inf, and int64's max still parses."""
    import datetime
    from ocr_engine_spark.engine.extract_job import PAGES_SCHEMA, extract_pages
    big = "9" * 20
    cases = {
        f"Electricity Consumption: {big} kWh": ("electricity_kwh", None),
        f"Carbon Footprint: {big} kg CO2e": ("carbon_kg_co2e", None),
        f"Current Reading: {big}": ("current_reading", None),
        f"Previous Reading: {big}": ("previous_reading", None),
        "Current Reading: 9223372036854775808": ("current_reading", None),
        "Current Reading: 9223372036854775807":
            ("current_reading", 9223372036854775807),
        f"Total Amount: AED {'9' * 400}": ("total_amount", float("inf")),
    }
    ts = datetime.datetime(2025, 5, 1)
    filler = " where the neighbours rescue pass needs plenty of words"
    pages = spark.createDataFrame(
        [(f"u://bills/dewa_{i}.html", ts,
          f"<body><p>{t}{filler}</p></body>".encode(), "", "en")
         for i, t in enumerate(cases)], PAGES_SCHEMA)
    rows = extract_pages(pages).collect()
    assert len(rows) == len(cases)
    for r in rows:
        assert r.status == "success", r.error
        field, want = cases[r.clean_text.split(" where ")[0]]
        assert r[field] == want, (field, r[field])


# adversarial (url, text) rows for the kernel-vs-JVM regex parity test
_ADVERSARIAL = [
    ("u://bills/dewa_1", "Account Number: \u0661\u0662\u0663"),
    ("u://bills/dewa_2", "Account Number: \uff11\uff12\uff13"),
    ("u://bills/dewa_3", "Account Number: 12\u0663 Invoice Number: \u00b2"),
    ("u://bills/dewa_4", "Account Number:\u00a0123"),
    ("u://bills/sewa_5", "Account Number: 123\r\nInvoice Number: 456\r\n"
                         "Bill Date: 01/02/2025\r\n"),
    ("u://bills/dewa_6", "Bill Date: \u0660\u0661/02/2025"),
    ("u://bills/dewa_7", "Electricity Consumption: 9223372036854775807 kWh"),
    ("u://bills/dewa_8", "Electricity Consumption: 9223372036854775808 kWh"),
    ("u://bills/dewa_9", "Carbon Footprint: 99999999999999999999 kg CO2e"),
    ("u://bills/dewa_10", "Current Reading: 0000000000000000000000042"),
    ("u://bills/dewa_11", "Previous Reading: " + "9" * 5000),
    ("u://bills/dewa_12", "Total Amount: AED " + "9" * 400),
    ("u://bills/dewa_13", "Total Amount: AED 12. Water Consumption: 0.5 m3"),
    ("u://bills/dewa_14", "Total Amount: aed 12.5 Water Consumption: 7. m3"),
    ("u://bills/dewa_15", "Total Amount: \uff21\uff25\uff24 5"),
    ("u://bills/dewa_16", "Meter Number: AB-12-\u0663 VAT Registration "
                          "Number: 100"),
    ("HTTPS://X/BILLS/DEWA/17", "no fields here"),
    ("u://Bills/SeWa_18", "Meter Number: ---"),
    ("u://dewasewa", "Total Amount: AED 97.35 "),
    ("u://blog/post", "Account Number: 1"),
    ("u://blog/post2", "nothing"),
    ("u://bills/dewa_empty", ""),
    ("u://bills/dewa_null", None),
    (None, "Account Number: 5"),
    (None, None),
]


def test_field_kernel_matches_jvm_regex_oracle(spark):
    """The field kernel row-for-row against a JVM oracle of the same
    rules (``regexp_extract`` + ``try_cast``, ``lower(url)`` contains)
    on adversarial text: other scripts' digits, NBSP, CRLF, values past
    int64 and past Python's int-parse limit, upper-case urls, NULLs."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ocr_engine_spark.kernels.fields import FIELD_PATTERNS, bill_row
    df = spark.createDataFrame(_ADVERSARIAL, StructType([
        StructField("url", StringType()), StructField("text", StringType())]))
    u = F.lower("url")
    provider = (F.when(u.contains("dewa"), F.lit("DEWA"))
                .when(u.contains("sewa"), F.lit("SEWA"))
                .otherwise(F.lit("Unknown")))
    fields = []
    for pattern, typ in FIELD_PATTERNS.values():
        v = F.regexp_extract("text", pattern, 1)
        v = F.when(v != "", v)
        fields.append(v if typ == "string" else v.try_cast(typ))
    all_null = F.lit(True)
    for c in fields:
        all_null = all_null & c.isNull()
    raw = F.when((provider != "Unknown") & all_null, F.col("text"))
    oracle = df.select("url", "text", provider, *fields, raw).collect()
    assert len(oracle) == len(_ADVERSARIAL)
    for r in oracle:
        assert bill_row(r[1], r[0]) == tuple(r[2:]), (r[0], r[1][:60]
                                                      if r[1] else r[1])
