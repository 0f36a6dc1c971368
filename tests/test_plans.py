"""Physical-plan audits: the properties that matter at 100 TB, enforced
as tests so they can't regress silently.

- filters/column pruning reach the parquet scan (PushedFilters/ReadSchema)
- small dims broadcast (no sort-merge shuffle for dim joins)
- relational paths stay in WholeStageCodegen
- the only Python in any plan is Arrow-batched (MapInPandas /
  ArrowEvalPython), never row-at-a-time BatchEvalPython
- top-k compiles to TakeOrderedAndProject (no global sort)
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF001", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__ as e
    return e


def test_filter_pushdown_reaches_scan(spark, entrymod):
    df = entrymod.q_filter_pushdown(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # at least one of the predicates is pushed, not just residual
    assert "GreaterThan(l_quantity" in plan


def test_column_pruning_reaches_scan(spark, entrymod):
    df = entrymod.q_pricing_summary(spark, SF_DIR)
    plan = _plan(df)
    # scan schema must exclude untouched wide columns like l_comment
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_comment" not in scan
    assert "l_quantity" in scan


def test_dim_joins_broadcast(spark, entrymod):
    plan = _plan(entrymod.q_top_customers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark, entrymod):
    plan = _plan(entrymod.q_top_customers(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_relational_plans_have_codegen_and_no_python(spark, entrymod):
    for name in ("pricing_summary", "top_customers", "region_rollup",
                 "union_priorities", "filter_pushdown",
                 "events_window_topk", "cer_metric", "doc_profile",
                 "lang_guess", "fingerprint_distinct", "exact_dups"):
        df = entrymod.queries()[name](spark, SF_DIR)
        df.collect()  # AQE decorates codegen only in the FINAL plan
        plan = _plan(df)
        # '*(n)' is WholeStageCodegen's marker in the simple plan string
        assert "*(" in plan, name
        assert "BatchEvalPython" not in plan, name  # no row-Python ever
        assert "EvalPython" not in plan, name       # no Python at all


def test_extraction_python_is_arrow_batched_only(spark, pages_df):
    from ocr_engine_spark.engine.extract_job import extract_pages
    # .limit() keeps this plan from unifying with the session-scoped
    # cached extraction (InMemoryTableScan would hide the Python node)
    plan = _plan(extract_pages(pages_df.limit(7)))
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    assert "BatchEvalPython" not in plan
    # exactly ONE Python stage: kernels are fused into a single pass
    assert plan.count("MapInArrow") == 1


def test_extraction_prunes_naive_text_column(spark, pages_df):
    """The crawler's naive `text` dump must never be read or shuffled:
    column pruning has to reach the pages scan."""
    from ocr_engine_spark.engine.extract_job import extract_pages
    plan = _plan(extract_pages(pages_df.limit(7)))
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "html:binary" in scan
    assert "text:string" not in scan.replace("extracted_text:string", "") \
        .replace("clean_text:string", "")


def test_minhash_no_cartesian(spark):
    from ocr_engine_spark.functions.dedup import minhash_candidate_pairs
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(minhash_candidate_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_assign_is_map_only(spark):
    from ocr_engine_spark.functions.similarity import ivf_assign
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    first = emb.select("embedding").first()
    cents = [(0, [float(x) for x in first[0]]),
             (1, [float(x) + 0.1 for x in first[0]])]
    plan = _plan(ivf_assign(emb, cents))
    assert "Exchange" not in plan  # no shuffle: pure map-side argmax
    assert "Window" not in plan


def test_nested_struct_schema_pruning(spark, tmp_path):
    """The 3-level nested bill struct must be columnar all the way
    down: reading ONE leaf from the written nested parquet prunes the
    scan schema to just that branch (nested-schema-pruning), so a
    per-leaf analytics query over a 10^12-row nested table never reads
    sibling leaves."""
    import pyspark.sql.functions as F
    from ocr_engine_spark.engine.schemas import nested_bill_struct
    rows = [("u://bills/dewa_1", "DEWA", "123", "01/01/2025 to 31/01/2025",
             "21/05/2025", 97.35, 299, 12.5, 120, 19462, 19163, 0.9)]
    cols = ["url", "provider", "account_number", "billing_period",
            "bill_date", "total_amount", "electricity_kwh", "water_m3",
            "carbon_kg_co2e", "current_reading", "previous_reading",
            "confidence"]
    df = spark.createDataFrame(rows, cols).withColumn(
        "doc", nested_bill_struct())
    # depth: 4 nested levels exist (extractedData...meterReading.current)
    got = df.select(
        F.col("doc.extractedData.consumptionData.electricity.meterReading"
              ".current")).first()[0]
    assert got == "19462"
    out = str(tmp_path / "nested")
    df.select("url", "doc").write.parquet(out)
    rd = spark.read.parquet(out).select(
        F.col("doc.extractedData.billInfo.accountNumber").alias("acct"))
    plan = rd._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "accountNumber" in scan
    assert "meterReading" not in scan and "emissionsData" not in scan


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Co-located join via bucketing (engine/catalog.py:write_bucketed):
    two tables bucketed on the same key join as a SortMergeJoin with NO
    Exchange on either side — the write paid the partitioning once,
    every later join is shuffle-free (the in-partition Sort remains:
    Spark 3+ keys sort-order reuse behind a legacy flag)."""
    import pyspark.sql.functions as F
    from ocr_engine_spark.engine.catalog import write_bucketed
    a = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bkt_a", "k", 8, str(tmp_path / "a"))
    write_bucketed(b, "bkt_b", "k", 8, str(tmp_path / "b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        assert j.count() == 10_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_source_prior_broadcasts_and_never_shuffles_corpus(spark):
    """source_quality_prior's scale contract: the corpus-sized side
    reaches the final join through ZERO exchanges (the only shuffles
    feed the small group/global aggregates) and both the prior table
    and the 1-row global mean come back via broadcast."""
    from ocr_engine_spark.functions.text import source_quality_prior
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(source_quality_prior(docs).limit(7))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row global mean
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # corpus scan -> join path has no shuffle Exchange: every
    # (non-broadcast) Exchange in the plan belongs to an agg subtree
    # (hashpartitioning for the group agg or SinglePartition for the
    # global mean), never to the join keys
    import re as _re
    shuffles = _re.findall(r"(?<!Broadcast)Exchange (\w+)", plan)
    assert shuffles, plan  # the agg shuffles must exist
    for kind in shuffles:
        assert kind in ("hashpartitioning", "SinglePartition"), plan


def test_quote_spans_no_cartesian(spark, entrymod):
    df = entrymod.q_quote_spans(spark, SF_DIR)
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_compression_kernel_is_arrow_batched(spark, entrymod):
    p = _plan(entrymod.q_compression_profile(spark, SF_DIR))
    assert "BatchEvalPython" not in p
    assert p.count("ArrowEvalPython") == 1
    # only the 3 touched columns are read
    assert "clean_text" in p and "extracted_text" not in p


def test_linewrap_and_sentences_are_pure_jvm(spark, entrymod):
    for q in (entrymod.q_linewrap_repair, entrymod.q_sentences,
              entrymod.q_dehyphen_report):
        p = _plan(q(spark, SF_DIR))
        assert "Python" not in p, q.__name__


def test_reshard_plan_single_scan_no_join(spark, entrymod):
    p = _plan(entrymod.q_reshard_plan(spark, SF_DIR))
    # both HRW assignments are columns of one scan: no join anywhere
    assert "Join" not in p
    assert p.count("Scan parquet") == 1


def test_host_concentration_has_no_unpartitioned_window(spark):
    """The Gini rank must use the range-partition prefix-rank engine:
    every Window in the plan carries a partition spec (an
    unpartitioned row_number would funnel all hosts through ONE task
    — the declared scale path for 10^8-host corpora)."""
    from ocr_engine_spark.functions.scrub import host_concentration
    df = spark.createDataFrame(
        [(f"http://h{i % 5}.com/p{i}",) for i in range(40)], ["url"])
    plan = _plan(host_concentration(df))
    for line in plan.splitlines():
        if "+- Window [" in line or line.strip().startswith("Window ["):
            # partitioned renders '], [parts], [order]' (3 groups);
            # unpartitioned has no partition group (2)
            assert len(line.split("], [")) >= 3, line


def test_page_extractors_compile_under_huge_method_limit(spark, entrymod):
    """Every whole-stage-codegen subtree of the widest page extractors
    compiles to methods under ``spark.sql.codegen.hugeMethodLimit``.
    Past it the JIT refuses to compile the method and the stage runs
    interpreted (~6x slower); og_metadata and page_metadata stay under
    it only because their extracts and finishes sit in two stacked
    Projects."""
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    for name in ("og_metadata", "page_metadata", "html_tables",
                 "hreflang_alternates"):
        df = entrymod.queries()[name](spark, SF_DIR)
        df.collect()  # AQE exposes its codegen subtrees once executed
        seq = df._jdf.queryExecution().debug().codegenToSeq()
        sizes = [seq.apply(i)._3().maxMethodCodeSize()
                 for i in range(seq.size())]
        assert sizes, name
        assert max(sizes) < limit, (name, sizes)
