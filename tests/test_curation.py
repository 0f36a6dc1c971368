"""End-to-end curation pipeline (functions/curation.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF001", "/root/testdata/sf0.001")


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_funnel_invariants_and_quota(spark):
    from ocr_engine_spark.functions.curation import (
        curate_corpus, curation_summary,
    )
    docs = _docs(spark)
    s = {r.lang: r for r in curation_summary(docs).collect()}
    assert s, "no languages survived the gate"
    for lang, r in s.items():
        assert r.n_gated >= r.n_unique >= r.n_sampled
        assert r.n_sampled == min(20, r.n_unique)
        assert r.tokens_sampled >= r.n_sampled * 25  # gate floor
    sampled = curate_corpus(docs)
    per_lang = {r.lang: r["count"] for r in
                sampled.groupBy("lang").count().collect()}
    assert per_lang == {k: v.n_sampled for k, v in s.items()}


def test_dedup_keep_rule_and_determinism(spark):
    from ocr_engine_spark.functions.curation import curate_corpus
    docs = _docs(spark).filter(F.col("doc_id") < 200)
    # plant exact duplicates with HIGHER ids: the struct-min keep rule
    # must always keep the original
    dup = docs.select((F.col("doc_id") + 100_000).alias("doc_id"),
                      "text", "lang", "source", "n_chars")
    doubled = docs.unionByName(dup)
    got = curate_corpus(doubled)
    assert got.filter(F.col("doc_id") >= 100_000).count() == 0
    a = sorted((r.doc_id, r.lang) for r in got.collect())
    b = sorted((r.doc_id, r.lang) for r in
               curate_corpus(doubled.repartition(7)).collect())
    assert a == b  # partitioning-independent


def test_single_plan_no_python_and_gate_pushed(spark):
    """The whole funnel is JVM-side: no Python eval anywhere, and no
    unpartitioned Window (the sample uses the prefix-rank engine)."""
    from ocr_engine_spark.functions.curation import curation_summary
    df = curation_summary(_docs(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    for line in plan.splitlines():
        if "+- Window [" in line or line.strip().startswith("Window ["):
            assert len(line.split("], [")) >= 3, line


def test_language_deduped_away_keeps_its_report_row(spark):
    """A language whose gated rows are all exact copies of LOWER-id
    rows in another language loses every row to dedup; the report
    still lists it as (n_gated, 0, 0, 0) and leaves the other
    languages' rows as they were."""
    from ocr_engine_spark.functions.curation import curation_summary
    docs = _docs(spark).filter(F.col("doc_id") < 200)
    ghost = docs.select((F.col("doc_id") + 100_000).alias("doc_id"),
                        "text", F.lit("zz").alias("lang"), "source",
                        "n_chars")
    base = {r.lang: tuple(r) for r in curation_summary(docs).collect()}
    got = {r.lang: tuple(r) for r in
           curation_summary(docs.unionByName(ghost)).collect()}
    n_gated = sum(r[1] for r in base.values())
    assert n_gated > 0
    assert got.pop("zz") == ("zz", n_gated, 0, 0, 0)
    assert got == base
