"""Similarity-search tests: brute-force cosine top-k, IVF recall,
hyperplane-LSH near-dup pairs — on the driver embeddings table."""

import os

import pyspark.sql.functions as F
import pytest

from ocr_engine_spark.functions.similarity import (
    brute_topk, cosine_col, cosine_near_pairs, ivf_topk,
)
from tests.conftest import TESTDATA_SF001


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        os.path.join(TESTDATA_SF001, "embeddings.parquet")).cache()


@pytest.fixture(scope="module")
def query_vec(emb):
    return [float(x) for x in emb.orderBy("vec_id").first().embedding]


def test_cosine_column_math(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]),
                                ([1.0, 2.0], [1.0, 2.0])], ["a", "b"])
    got = [r[0] for r in df.select(
        F.round(cosine_col(F.col("a"), F.col("b")), 6)).collect()]
    assert got[0] == 0.0 and abs(got[1] - 1.0) < 1e-9


def test_brute_topk_self_is_top(emb, query_vec):
    top = brute_topk(emb, query_vec, k=5).collect()
    assert len(top) == 5
    assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-6
    assert all(top[i].cosine >= top[i + 1].cosine for i in range(4))


def test_brute_topk_plan_is_take_ordered(emb, query_vec):
    plan = brute_topk(emb, query_vec, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_ivf_recall(emb):
    """IVF (hash-sampled centroids + 2 Lloyd iterations + top-2
    redundant assignment) at half the cells probed: mean recall@10
    >= 0.9 over a query panel, no query below 0.8 — on a
    weakly-clustered (near-random) corpus. The unrefined seed floor is
    asserted separately below so the refinement's lift is visible."""
    recalls, seed_recalls = [], []
    for qid in (0, 7, 23, 101, 250):
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == qid).first().embedding]
        exact = {r.vec_id for r in brute_topk(emb, qv, k=10).collect()}
        approx = {r.vec_id for r in
                  ivf_topk(emb, qv, k=10, n_centroids=8,
                           n_probe=4).collect()}
        seed = {r.vec_id for r in
                ivf_topk(emb, qv, k=10, n_centroids=8, n_probe=4,
                         refine_iters=0).collect()}
        recalls.append(len(approx & exact) / 10)
        seed_recalls.append(len(seed & exact) / 10)
    assert min(recalls) >= 0.8, recalls
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    # refinement must not be a regression vs the raw seed
    assert sum(recalls) >= sum(seed_recalls), (recalls, seed_recalls)


def test_ivf_index_lifecycle(emb, query_vec, tmp_path):
    """Build-once / probe-many: the persisted index must return exactly
    what the one-shot ivf_topk computes, reload from disk, and prune
    partitions at the scan (only the probed cells are read)."""
    from ocr_engine_spark.functions.similarity import IvfIndex
    spark = emb.sparkSession
    idx = IvfIndex.build(emb, str(tmp_path / "ivf"), n_centroids=8)
    via_fn = [(r.vec_id, r.cosine) for r in
              ivf_topk(emb, query_vec, k=10, n_centroids=8,
                       n_probe=4).collect()]
    reloaded = IvfIndex.load(spark, str(tmp_path / "ivf"))
    assert reloaded.n_assign == 2
    q = reloaded.topk(spark, query_vec, k=10, n_probe=4)
    assert [(r.vec_id, r.cosine) for r in q.collect()] == via_fn
    # partition pruning: the probed-cell filter must reach the scan
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_cosine_near_pairs_no_cross_join(emb):
    q = cosine_near_pairs(emb.limit(200), threshold=0.8)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    rows = q.collect()
    for r in rows:
        assert r.cosine >= 0.8 and r.id_a < r.id_b


def test_cosine_lsh_recall_floor(emb):
    """Banded OR-construction recall vs the exact verifier: >= 0.9 at
    threshold 0.25 on the driver corpus (boundary-pair analytic floor
    with b=8, r=2 is 0.96 — lsh_recall_estimate)."""
    from ocr_engine_spark.functions.similarity import lsh_recall_estimate
    assert lsh_recall_estimate(0.25, 8, 2) >= 0.95
    scope = emb.filter(F.col("vec_id") < 120)
    l = scope.select(F.col("vec_id").alias("id_a"),
                     F.col("embedding").alias("va"))
    r_ = scope.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vb"))
    sim = cosine_col(F.col("va").cast("array<double>"),
                     F.col("vb").cast("array<double>"))
    exact = {(r.id_a, r.id_b) for r in
             l.join(r_, F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b", F.round(sim, 6).alias("cosine"))
              .filter(F.col("cosine") >= 0.25).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           cosine_near_pairs(scope, threshold=0.25, n_bands=8,
                             rows_per_band=2).collect()}
    assert lsh <= exact  # precision 1 by construction (exact verify)
    assert len(lsh & exact) / max(len(exact), 1) >= 0.9


def test_ivf_assign_arrow_matches_fold(emb):
    """The Arrow assignment strategy must be BIT-identical to the
    interpreted fold (dim-sequential accumulation == the fold's
    left-to-right order), for both single and top-2 spill assignment —
    this is what lets `ivf_assign` switch strategies by k without
    moving any oracle."""
    from ocr_engine_spark.functions.similarity import (
        _ivf_assign_arrow, _ivf_assign_fold, pick_centroids,
        refine_centroids,
    )
    cents = refine_centroids(emb, pick_centroids(emb, 17), 1)
    for n_assign in (1, 2):
        fold = _ivf_assign_fold(emb, cents, "embedding", n_assign)
        arrow = _ivf_assign_arrow(emb, cents, "embedding", n_assign)
        f = sorted((r["vec_id"], r["cell"])
                   for r in fold.select("vec_id", "cell").collect())
        a = sorted((r["vec_id"], r["cell"])
                   for r in arrow.select("vec_id", "cell").collect())
        assert f == a


def test_ivf_assign_arrow_k1_spill_sentinel(spark):
    """k=1 top-2: both strategies emit the -1 'no second cell'
    sentinel for c2."""
    from ocr_engine_spark.functions.similarity import (
        _ivf_assign_arrow, _ivf_assign_fold,
    )
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])],
        "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0])]
    for strategy in (_ivf_assign_fold, _ivf_assign_arrow):
        cells = sorted(
            (r["vec_id"], r["cell"])
            for r in strategy(df, cents, "embedding", 2).collect())
        assert cells == [(0, -1), (0, 0), (1, -1), (1, 0)]


def test_ivf_index_append_equals_rebuild(emb, query_vec, tmp_path):
    """Incremental append against the STORED centroids == building the
    index over the full corpus with those same centroids: identical
    top-k, pruning intact, history never re-assigned."""
    from ocr_engine_spark.functions.similarity import IvfIndex, ivf_assign
    spark = emb.sparkSession
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    idx = IvfIndex.build(first, str(tmp_path / "inc"), n_centroids=8)
    idx.append(rest)
    got = [(r.vec_id, r.cosine) for r in
           idx.topk(spark, query_vec, k=10, n_probe=8).collect()]
    # reference: assign the FULL corpus with the stored centroids
    full = ivf_assign(emb, idx.centroids, n_assign=idx.n_assign)
    scoped = full.dropDuplicates(["vec_id"])
    from ocr_engine_spark.functions.similarity import brute_topk
    want = [(r.vec_id, r.cosine) for r in
            brute_topk(scoped, query_vec, 10).collect()]
    assert got == want
    q = idx.topk(spark, query_vec, k=5, n_probe=2)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_seed_quality_matches_numpy(emb):
    """Seed-centroid scoring == an independent numpy model (centroid
    on the label-0 slice, cosine per row) within the 1e-6 rounding."""
    import numpy as np
    from ocr_engine_spark.functions.similarity import seed_quality_scores

    got = {r["vec_id"]: r["seed_cosine"]
           for r in seed_quality_scores(emb, F.col("label") == 0)
           .collect()}
    rows = emb.select("vec_id", "label", "embedding").collect()
    seed = np.stack([np.array(r["embedding"], dtype="float64")
                     for r in rows if r["label"] == 0])
    cent = np.round(seed.mean(axis=0), 10)
    for r in rows:
        v = np.array(r["embedding"], dtype="float64")
        want = float(v @ cent / (np.linalg.norm(v) * np.linalg.norm(cent)))
        assert got[r["vec_id"]] == pytest.approx(want, abs=2e-6)


def test_seed_quality_scoring_is_map_only(emb):
    """After the bounded centroid read, scoring must be a pure
    projection: no Exchange, no join, no Python eval in the plan."""
    from ocr_engine_spark.functions.similarity import seed_quality_scores

    plan = seed_quality_scores(emb, F.col("label") == 0).limit(7) \
        ._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Join", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node


def test_semantic_contamination_planted_leak(spark):
    """A corpus vector equal to a benchmark vector is flagged at
    cosine 1.0; an orthogonal vector is absent; a scaled copy (same
    direction) also hits at 1.0 (cosine is scale-invariant)."""
    from ocr_engine_spark.functions.similarity import semantic_contamination

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]),      # exact leak
         (2, [2.0, 0.0, 0.0]),      # scaled leak
         (3, [0.0, 0.0, 1.0]),      # orthogonal: clean
         (4, [1.0, 1.0, 0.0])],     # cos 0.7071 vs both: below 0.8
        "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in
           semantic_contamination(corpus, bench,
                                  threshold=0.8).collect()}
    assert set(got) == {1, 2}
    assert got[1].max_cosine == 1.0 and got[1].n_bench_hits == 1
    assert got[2].max_cosine == 1.0


def test_semantic_contamination_is_map_only(spark):
    """After the bounded benchmark collect, scoring is one Arrow
    projection over the corpus: no Exchange, no Join."""
    from ocr_engine_spark.functions.similarity import semantic_contamination

    bench = spark.createDataFrame([(0, [1.0, 0.0])],
                                  "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])],
                                   "vec_id long, embedding array<double>")
    plan = (semantic_contamination(corpus, bench, threshold=0.5)
            .limit(7)._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert "Join" not in plan
    # exactly ONE Arrow stage: without asNondeterministic the pushed
    # filter re-evaluates the struct UDF (two ArrowEvalPython nodes)
    assert plan.count("ArrowEvalPython") == 1


def test_semantic_contamination_guards(spark):
    from ocr_engine_spark.functions.similarity import semantic_contamination

    corpus = spark.createDataFrame([(1, [1.0, 0.0])],
                                   "vec_id long, embedding array<double>")
    empty = corpus.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        semantic_contamination(corpus, empty)
    with pytest.raises(ValueError, match="bench_max_bytes"):
        semantic_contamination(corpus, corpus, bench_max_bytes=8)


def test_embedding_outliers_tails(spark):
    # 10 clustered vectors near the origin + one far point: the far
    # point must top the outlier tail, the cluster fills the
    # prototype tail, and the two tails are disjoint at k <= n/2.
    import pyspark.sql.functions as F
    from ocr_engine_spark.functions.similarity import embedding_outliers
    rows = [(i, [0.01 * i, 0.02 * i, 0.0, 0.0]) for i in range(10)]
    rows.append((99, [50.0, -50.0, 50.0, -50.0]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_outliers(emb, k=3).collect()
    by_scope = {}
    for r in out:
        by_scope.setdefault(r["scope"], []).append(r["vec_id"])
    assert by_scope["outlier"][0] == 99
    assert len(by_scope["outlier"]) == 3
    assert len(by_scope["prototype"]) == 3
    assert 99 not in by_scope["prototype"]
    assert not set(by_scope["outlier"]) & set(by_scope["prototype"])


def test_jl_projection_distortion_concentrates(spark):
    # JL guarantee at k=16: pairwise distance ratios concentrate
    # around 1 with spread O(1/sqrt(k)); assert the ratio distribution
    # is centered (mean within 25%) and no catastrophic collapse.
    import os
    from ocr_engine_spark.functions.similarity import jl_projection_audit
    from tests.conftest import TESTDATA_SF001
    emb = spark.read.parquet(
        os.path.join(TESTDATA_SF001, "embeddings.parquet"))
    rows = jl_projection_audit(emb, k=16, max_id=20).collect()
    assert len(rows) == 190
    ratios = [r["ratio_ppm"] for r in rows]
    mean = sum(ratios) / len(ratios)
    assert 750_000 < mean < 1_250_000
    assert all(r > 100_000 for r in ratios)


def test_sparse_projection_matrix_deterministic_density(spark):
    from ocr_engine_spark.functions.similarity import (
        sparse_projection_matrix,
    )
    m = sparse_projection_matrix(64, 16)
    again = sparse_projection_matrix(64, 16)
    assert m == again
    flat = [v for row in m for v in row]
    nz = sum(1 for v in flat if v != 0)
    # expected density 1/3 of 1024 = ~341; allow generous band
    assert 230 < nz < 460
    assert set(flat) <= {-1, 0, 1}
