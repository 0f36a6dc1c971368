"""End-to-end corpus curation as ONE composed DataFrame plan.

The pipeline every LLM-data team runs before training — quality gate,
exact dedup, per-language quota sample — is usually three separate
jobs with materialization between them. Declared as one plan, Catalyst
pipelines the gate into the fingerprint shuffle's map side (the filter
runs before any byte shuffles), the dedup keep-rule is a struct-min
aggregate (map-side combine), and the quota sample reuses the
range-partition prefix-rank engine — three stages, three bounded
shuffles, zero intermediate writes.

Reference scope note: the reference processes one upload at a time
(``api_gateway.py:94``); corpus-level curation has no counterpart
there — this is part of the training-data layer SURVEY.md §2.11 adds
on top.

Scale shape at 10^12 rows:
  * gate: map-only expression chain (token count + quality score are
    pure JVM regexp/aggregate columns, no UDF);
  * dedup: ONE shuffle on the 128-bit fingerprint with map-side
    partial min; the keep rule (lowest id wins) is the struct-min
    both engines replay identically;
  * sample: sample.global_stratum_ranks — range partition by
    (lang, hash-rank), bounded one-row-per-(partition, stratum)
    driver read, NO single-task window;
  * summary: three per-lang aggregates (lang cardinality-bounded)
    joined at the end — broadcast-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_engine_spark.functions.sample import stratified_sample
from ocr_engine_spark.functions.text import (
    fingerprint_col, quality_score_raw_col, token_count_col,
)


def _gate_and_dedup(docs: DataFrame, *, min_tokens: int,
                    min_quality_micro: int, id_col: str, text_col: str,
                    lang_col: str) -> tuple[DataFrame, DataFrame]:
    """(gated, unique): the quality-gated rows (id, lang, __text,
    n_tokens, __q) and their exact-dedup survivors (doc_id, lang,
    n_tokens) — the lowest id wins per normalized-text fingerprint."""
    gated = (docs
             .select(F.col(id_col), F.col(lang_col).alias("lang"),
                     F.col(text_col).alias("__text"),
                     token_count_col(F.col(text_col)).alias("n_tokens"),
                     F.floor(quality_score_raw_col(F.col(text_col))
                             * 1e6 + F.lit(0.5)).alias("__q"))
             .filter((F.col("n_tokens") >= int(min_tokens))
                     & (F.col("__q") >= int(min_quality_micro))))
    uniq = (gated
            .select(fingerprint_col(F.col("__text")).alias("__fp"),
                    F.struct(F.col(id_col).alias("doc_id"),
                             F.col("lang").alias("lang"),
                             F.col("n_tokens").alias("n_tokens"))
                    .alias("__m"))
            .groupBy("__fp").agg(F.min("__m").alias("__m"))
            .select("__m.doc_id", "__m.lang", "__m.n_tokens"))
    return gated, uniq


def curate_corpus(docs: DataFrame, *, min_tokens: int = 25,
                  min_quality_micro: int = 350_000,
                  n_per_lang: int = 20, id_col: str = "doc_id",
                  text_col: str = "text",
                  lang_col: str = "lang") -> DataFrame:
    """The curated sample itself: (doc_id, lang, n_tokens) rows that
    survive gate -> exact-dedup -> per-language quota, deterministic
    for a given population regardless of partitioning (the portable
    hash rank's property)."""
    _, uniq = _gate_and_dedup(docs, min_tokens=min_tokens,
                              min_quality_micro=min_quality_micro,
                              id_col=id_col, text_col=text_col,
                              lang_col=lang_col)
    return stratified_sample(uniq, int(n_per_lang), strata_col="lang",
                             id_col="doc_id")


def curation_summary(docs: DataFrame, *, min_tokens: int = 25,
                     min_quality_micro: int = 350_000,
                     n_per_lang: int = 20, id_col: str = "doc_id",
                     text_col: str = "text",
                     lang_col: str = "lang") -> DataFrame:
    """Per-language funnel of the composed pipeline: (lang, n_gated,
    n_unique, n_sampled, tokens_sampled) — the acceptance report read
    before committing a training mix. Every language with a gated row
    gets a row: one whose rows all dedup into another language's copy
    reads ``(n_gated, 0, 0, 0)`` instead of vanishing. The three stage
    aggregates are branches of one logical plan; Catalyst reuses only
    IDENTICAL exchanges, so the map-side gate re-executes per branch
    (columnar scan + expression chain — cheap). At 100 TB run
    `curate_corpus` for the sample and derive the report from its
    materialized output instead of re-gating three times."""
    gated, uniq = _gate_and_dedup(docs, min_tokens=min_tokens,
                                  min_quality_micro=min_quality_micro,
                                  id_col=id_col, text_col=text_col,
                                  lang_col=lang_col)
    sampled = stratified_sample(uniq, int(n_per_lang),
                                strata_col="lang", id_col="doc_id")
    g = gated.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_gated"))
    u = uniq.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_unique"))
    s = sampled.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.sum("n_tokens").cast("long").alias("tokens_sampled"))
    zero = F.lit(0).cast("long")
    return (g.join(u, "lang", "left").join(s, "lang", "left")
            .select("lang", "n_gated",
                    *[F.coalesce(c, zero).alias(c) for c in
                      ("n_unique", "n_sampled", "tokens_sampled")])
            .orderBy("lang"))
