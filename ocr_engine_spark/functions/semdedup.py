"""SemDeDup: semantic deduplication via embedding-space clustering.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (arXiv:2303.09540): k-means-cluster the
embeddings, compute pairwise cosine similarity WITHIN each cluster
only (never across the whole corpus), group >=-threshold members into
duplicate sets, and keep ONE exemplar per set — the paper's keep rule
retains the member with the LOWEST cosine to its cluster centroid
(the least prototypical example, maximizing retained diversity).

This composes three pieces that are individually oracle-proven here:

  * deterministic k-means (``similarity.pick_centroids`` hash-sampled
    seed + ``similarity.refine_centroids`` Lloyd iterations, both
    SQL-replayable);
  * map-only nearest-centroid assignment (``similarity.ivf_assign`` —
    constant centroid literal, one aggregate fold, no shuffle);
  * near-dup set resolution (``cluster.connected_components`` min-label
    propagation with pointer jumping).

Plan shape at 10^12 rows: assignment is embarrassingly parallel; the
within-cell pair generation is ONE shuffle on ``cell``; component
resolution touches only the (tiny) above-threshold pair set. The
quadratic within-cell cost is inherent to the published algorithm —
size ``n_centroids`` so the expected cell holds a bounded row count
(the paper uses 110k clusters for LAION-440M, ~4k rows/cell); a skewed
hot cell is bounded the same way a skewed join key is: raise k, or
pass ``max_cell_rows`` so ``within_cell_pairs`` re-splits oversized
cells by a secondary id-hash before pairing (implemented there;
planted-hot-cell test in tests/test_semdedup.py).

Reference motif: the keep-one guard A7 (``dropDuplicates``,
SURVEY.md §2.5) lifted to semantic near-duplicates, same as
functions/cluster.py lifts it to MinHash near-duplicates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ocr_engine_spark.functions.cluster import connected_components
from ocr_engine_spark.functions.similarity import (
    cosine_pairs_udf, dot_col, ivf_assign, norm_col, pick_centroids,
    refine_centroids,
)


def _unit_centroid_lit(centroids: list[tuple[int, list[float]]]):
    """array<array<double>> literal of L2-normalized centroids, ordered
    so ``element_at(lit, cell + 1)`` is cell's unit centroid. Same
    driver-side normalization arithmetic as ivf_assign (Python float
    sum of squares), so scores agree bit-for-bit with assignment."""
    cents = sorted(centroids)
    assert [c for c, _ in cents] == list(range(len(cents))), \
        "semantic dedup expects dense 0..k-1 cell ids"
    arrs = []
    for _, vec in cents:
        nrm = math.sqrt(sum(float(x) * float(x) for x in vec)) or 1.0
        arrs.append(F.array(*[F.lit(float(x) / nrm) for x in vec]))
    return F.array(*arrs)


def within_cell_pairs(scored: DataFrame, threshold: float, *,
                      max_cell_rows: int | None = None) -> DataFrame:
    """(id_a, id_b, cosine) for every within-cell pair at ``cosine >=
    threshold``. ``scored`` is (id, v: array<double>, cell, ...). ONE
    equi-join shuffle on the cell key — never a cross join
    (plan-asserted in tests); the Arrow-batched pair cosine runs only
    on same-cell candidates.

    ``max_cell_rows`` is the HOT-CELL guard: a cell whose row count
    exceeds the bound is re-split by a secondary hash of the id into
    ``ceil(n / max_cell_rows)`` sub-cells, and members pair only
    WITHIN a sub-cell. This bounds the candidate-pair count of any one
    key at ~``max_cell_rows``²/2 instead of n²/2 — the same move as
    salting a skewed join key. The trade is recall: duplicates split
    across sub-cells are missed, exactly as the paper's ``k`` governs
    which duplicates share a cluster at all (raising k and re-splitting
    a hot cell are the same approximation). The per-cell count table is
    n_centroids rows — broadcast, no extra pages-sized shuffle."""
    keyed = scored
    key = ["cell"]
    if max_cell_rows is not None:
        counts = scored.groupBy("cell").agg(F.count("*").alias("__n"))
        n_sub = F.ceil(F.col("__n") / F.lit(int(max_cell_rows))) \
                 .cast("long")
        sub = F.when(F.col("__n") <= F.lit(int(max_cell_rows)),
                     F.lit(0).cast("long")) \
               .otherwise(F.pmod(F.xxhash64(F.col("id")), n_sub))
        keyed = (scored.join(F.broadcast(counts), "cell")
                 .withColumn("__subcell", sub).drop("__n"))
        key = ["cell", "__subcell"]
    l = keyed.select(*key, F.col("id").alias("id_a"),
                     F.col("v").alias("va"))
    r = keyed.select(*key, F.col("id").alias("id_b"),
                     F.col("v").alias("vb"))
    pair_cos = cosine_pairs_udf()(F.col("va"), F.col("vb"))
    return (l.join(r, key)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.round(pair_cos, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def semantic_dedup_decisions(embeddings: DataFrame, *,
                             n_centroids: int = 8,
                             threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             refine_iters: int = 2,
                             centroids: list[tuple[int, list[float]]]
                             | None = None,
                             max_iter: int = 20,
                             max_cell_rows: int | None = None
                             ) -> DataFrame:
    """(id, cell, cluster_id, centroid_cosine, keep) for every row that
    participates in at least one within-cell pair at ``cosine >=
    threshold``. Rows with no semantic duplicate are ABSENT (absent ==
    kept, same convention as cluster.dedup_decisions).

    ``keep`` is true exactly for the member of each duplicate set with
    the LOWEST centroid cosine (ties to the lowest id) — the SemDeDup
    paper's exemplar rule. ``cluster_id`` is the set's minimum id.

    Fully deterministic (hash-sampled Lloyd-refined centroids, rounded
    means, cosine rounded to 6 decimals before thresholding), so the
    whole operator — clustering included — replays in ANSI SQL for the
    oracle gate."""
    cents = centroids
    if cents is None:
        cents = pick_centroids(embeddings, n_centroids, id_col, vec_col)
        if refine_iters > 0:
            cents = refine_centroids(embeddings, cents, refine_iters,
                                     vec_col=vec_col)
    assigned = ivf_assign(embeddings, cents, vec_col=vec_col, n_assign=1)
    unit_lit = _unit_centroid_lit(cents)
    v = F.col(vec_col).cast("array<double>")
    # materialize (id, v, cell, centroid_cosine) ONCE: the element_at /
    # fold subtrees are interpreted (never codegen'd) — projecting them
    # into a persisted frame stops Catalyst re-evaluating the fold per
    # downstream use (the HOF-inlining trap, see functions/evaluate WER
    # note)
    cent_cos = F.round(
        dot_col(v, F.element_at(unit_lit, F.col("cell") + 1))
        / norm_col(v), 6)
    scored = (assigned
              .select(F.col(id_col).alias("id"), v.alias("v"), "cell",
                      cent_cos.alias("centroid_cosine"))
              .persist())
    pairs = within_cell_pairs(scored, threshold,
                              max_cell_rows=max_cell_rows)
    comp = connected_components(pairs, "id_a", "id_b", max_iter=max_iter)
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.col("centroid_cosine").asc(), F.col(id_col).asc()))
    return (comp
            .join(scored, comp["node"] == scored["id"])
            .select(F.col("node").alias(id_col),
                    "cell",
                    F.col("component").alias("cluster_id"),
                    "centroid_cosine")
            .withColumn("keep", F.row_number().over(w) == 1))


def semantic_dedup(embeddings: DataFrame, *,
                   n_centroids: int = 8, threshold: float = 0.95,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   refine_iters: int = 2, max_iter: int = 20,
                   max_cell_rows: int | None = None) -> DataFrame:
    """End-to-end SemDeDup: drop every row whose duplicate set elected a
    different exemplar. Rows without a semantic duplicate pass through
    untouched — the corpus left-anti-joins only the LOSER set (which is
    tiny relative to 100 TB), never itself."""
    losers = (semantic_dedup_decisions(
        embeddings, n_centroids=n_centroids, threshold=threshold,
        id_col=id_col, vec_col=vec_col, refine_iters=refine_iters,
        max_iter=max_iter, max_cell_rows=max_cell_rows)
        .filter(~F.col("keep"))
        .select(F.col(id_col)))
    return embeddings.join(losers, id_col, "left_anti")
