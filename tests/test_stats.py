"""Spearman rank correlation (functions/stats.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _rho(spark, rows):
    from ocr_engine_spark.functions.stats import spearman_micro
    df = spark.createDataFrame(rows, "doc_id long, a double, b double")
    return spearman_micro(df, F.col("a"), F.col("b")).collect()[0]


def test_perfect_and_anti_correlation(spark):
    rows = [(i, float(i), float(i) * 2.5) for i in range(20)]
    r = _rho(spark, rows)
    assert (r.n, r.sum_d2, r.rho_micro) == (20, 0, 1_000_000)
    anti = [(i, float(i), -float(i)) for i in range(20)]
    r2 = _rho(spark, anti)
    assert r2.rho_micro == -1_000_000


def test_scrambled_matches_scipy_free_reference(spark):
    # hand-computed tie-broken Spearman: ranks by (value, id)
    rows = [(0, 1.0, 3.0), (1, 2.0, 1.0), (2, 3.0, 2.0),
            (3, 4.0, 4.0)]
    # rank_a = 1,2,3,4 ; rank_b = 3,1,2,4 -> d2 = 4+1+1+0 = 6
    # rho = 1 - 6*6/(4*15) = 0.4
    r = _rho(spark, rows)
    assert (r.sum_d2, r.rho_micro) == (6, 400_000)


def test_partitioning_independent(spark):
    from ocr_engine_spark.functions.stats import spearman_micro
    rows = [(i, float((i * 7) % 23), float((i * 11) % 19))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, a double, b double")
    r1 = spearman_micro(df, F.col("a"), F.col("b")).collect()[0]
    r2 = spearman_micro(df.repartition(13), F.col("a"),
                        F.col("b")).collect()[0]
    assert tuple(r1) == tuple(r2)


def test_empty_input_gives_null_rho_row(spark):
    """An empty frame yields one (0, 0, NULL) row instead of crashing on
    the rank engine's None for empty input."""
    from ocr_engine_spark.functions.stats import spearman_micro
    df = spark.createDataFrame([], "doc_id long, a double, b double")
    out = spearman_micro(df, F.col("a"), F.col("b"))
    assert [tuple(r) for r in out.collect()] == [(0, 0, None)]
    one = spearman_micro(df.union(spark.createDataFrame(
        [(1, 1.0, 2.0)], df.schema)), F.col("a"), F.col("b"))
    assert [(f.name, f.dataType) for f in out.schema] == \
        [(f.name, f.dataType) for f in one.schema]
