"""Corpus-signal statistics: rank correlation between per-document
quality signals.

Every curation stack accumulates scoring signals (gopher rules,
quality score, perplexity, compression ratio, readability...); before
adding one to a gate the question is whether it carries NEW
information or re-ranks the corpus the same way — Spearman's rho is
the standard answer (rank correlation is scale-free, so micro-units
vs floats vs log-space never matter).

Determinism contract: ranks are tie-broken by (signal, id) —
"tie-broken Spearman", documented rather than the tied-average-rank
variant, because average ranks need a per-tie-group size join while
the tie-broken rank is ONE pass of the range-partition prefix-rank
engine (sample.global_stratum_ranks) per signal and replays exactly
in SQL (row_number over the same order). With continuous-ish signals
the two agree to noise; with heavily tied signals the tie-break
contribution is bounded by the tie-group sizes.

Exactness: sum of squared rank differences is exact int64-in-decimal;
``rho_micro = 1e6 - (6 * sum_d2 * 1e6) div (n * (n^2 - 1))`` in
decimal(38,0) arithmetic (n^3 overflows int64 at the 10^12-doc target
— the host_concentration gini discipline), floored once.

Scale shape: two range-partition prefix ranks (no single-task
window), one co-keyed join on the id, one global aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ocr_engine_spark.functions.sample import global_stratum_ranks


def spearman_micro(df: DataFrame, sig_a: Column, sig_b: Column, *,
                   id_col: str = "doc_id") -> DataFrame:
    """One row: (n, sum_d2, rho_micro) — tie-broken Spearman rank
    correlation of two signal columns over ``df``. An empty ``df``
    gives (0, 0, NULL)."""
    base = (df.select(F.col(id_col).alias("id"),
                      sig_a.alias("__a"), sig_b.alias("__b"))
            .withColumn("__s", F.lit(1)))
    ra = global_stratum_ranks(base, strata_col="__s", id_col="id",
                              order_col="__a")
    if ra is None:
        return df.sparkSession.createDataFrame(
            [(0, 0, None)], "n long, sum_d2 long, rho_micro long")
    ra = ra.select("id", F.col("__grank").alias("rank_a"))
    rb = (global_stratum_ranks(base, strata_col="__s", id_col="id",
                               order_col="__b")
          .select("id", F.col("__grank").alias("rank_b")))
    j = ra.join(rb, "id")
    d2 = ((F.col("rank_a") - F.col("rank_b"))
          * (F.col("rank_a") - F.col("rank_b")))
    return j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(d2).cast("long").alias("sum_d2"),
        # integral `div` (DuckDB //) keeps the quotient floor exact in
        # wide-decimal space — a float-division floor could slip a ulp
        # on 10^12-doc denominators (n^3 territory)
        F.expr(
            "CASE WHEN count(*) < 2 THEN NULL ELSE "
            "cast(1000000 - ("
            "cast(6 as decimal(38,0)) * sum(cast((rank_a - rank_b) *"
            " (rank_a - rank_b) as decimal(38,0))) * 1000000)"
            " div (cast(count(*) as decimal(38,0))"
            " * (cast(count(*) as decimal(38,0))"
            " * count(*) - 1)) as long) END")
        .alias("rho_micro"))
