"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one scan, one TakeOrderedAndProject,
dot products via zip_with/aggregate (JVM higher-order functions, no
Python). Scale path: IVF-style coarse quantization (centroid assignment
via broadcast join + window argmin) and random-hyperplane LSH bucketing,
so a query probes a small fraction of a 10^12-row table.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_pairs_udf():
    """Arrow-batched vectorized cosine for the CANDIDATE-VERIFY hot
    path. Catalyst higher-order functions are interpreted (never
    codegen'd) — ~3 folds x 64 elements per pair; with millions of LSH
    candidates the verify dominates wall time. One numpy einsum over
    the whole Arrow batch is ~50x faster and stays batch-at-a-time
    (no per-row Python). Scalar one-vs-all paths (brute_topk) keep the
    pure-JVM expression — there the scan, not the math, dominates."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(va.to_numpy())
        b = np.stack(vb.to_numpy())
        num = np.einsum("ij,ij->i", a, b)
        den = (np.sqrt(np.einsum("ij,ij->i", a, a))
               * np.sqrt(np.einsum("ij,ij->i", b, b)))
        return pd.Series(num / den)

    return _cos


def _vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def brute_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: full scan + TakeOrderedAndProject (no shuffle
    of the vectors themselves — only k rows reach the driver side)."""
    q = _vec_lit(query_vec)
    sim = cosine_col(F.col(vec_col).cast("array<double>"), q)
    return (embeddings
            .select(F.col(id_col), F.round(sim, 6).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


# ---------------------------------------------------------------------------
# IVF (coarse quantization) — the scale path
# ---------------------------------------------------------------------------

def ivf_assign(embeddings: DataFrame, centroids: list[tuple[int, list[float]]],
               id_col: str = "vec_id", vec_col: str = "embedding",
               n_assign: int = 1, method: str = "auto") -> DataFrame:
    """Assign every vector to its nearest centroid(s) — MAP-ONLY: no
    crossJoin, no window, no shuffle: at 10^12 rows assignment is
    embarrassingly parallel and the shuffle (if any) is the caller's
    bucketed write.

    Two physical strategies, IDENTICAL results bit-for-bit:

      * ``fold`` — the centroid table is a constant
        array<struct<cell, unit-centroid>> literal and the argmax is
        one aggregate fold per row, pure JVM expressions. Catalyst
        HOFs are interpreted (never codegen'd), so per-row cost is
        ~k x dim interpreted evals — fine for small k, ~0.5 ms/row by
        k=32.
      * ``arrow`` — Arrow-batched pandas UDF over a broadcast k x dim
        float64 centroid matrix. Scores accumulate DIM-SEQUENTIALLY
        (``acc += M[:,j] * C[:,j]`` for j in 0..dim-1, vectorized over
        rows) — the exact IEEE operation sequence of the fold's
        left-to-right ``acc + (a_j * b_j)``, so scores (and therefore
        argmax + tie-breaks) are bit-identical to the fold and the
        SQL oracles keep passing. ~100x faster at k >= 32; the ONLY
        viable shape at SemDeDup scale (paper: 110k centroids).

    ``auto`` picks arrow when k x dim > 1024 (interpreted-fold cost
    crosses the Arrow serialization overhead), fold otherwise.

    Centroids are L2-normalized driver-side so per-row score =
    dot(v, unit_centroid); dividing by |v| (common positive factor)
    cannot change the argmax, so cosine order is preserved exactly.
    Ties break to the lowest cell id (centroid array order): the fold
    keeps the first strictly-greater score; ``np.argmax`` returns the
    first occurrence of the max — same rule.

    ``n_assign=2`` (redundant/spill assignment) emits one row per
    vector per its top-2 cells: a boundary vector — whose neighbors
    straddle two cells — is findable from either, which is what lifts
    probe recall on weakly-clustered corpora. Costs 2x index storage;
    probes must dedupe on id (IvfIndex.topk / ivf_topk do)."""
    import math
    assert n_assign in (1, 2)
    assert method in ("auto", "fold", "arrow")
    if method == "auto":
        dim = len(centroids[0][1]) if centroids else 0
        method = "arrow" if len(centroids) * dim > 1024 else "fold"
    if method == "arrow":
        return _ivf_assign_arrow(embeddings, centroids, vec_col, n_assign)
    cstructs = []
    for cid, vec in centroids:
        nrm = math.sqrt(sum(float(x) * float(x) for x in vec)) or 1.0
        cstructs.append(F.struct(
            F.lit(int(cid)).alias("cell"),
            F.array(*[F.lit(float(x) / nrm) for x in vec]).alias("cv")))
    cent_lit = F.array(*cstructs)
    v = F.col(vec_col).cast("array<double>")
    scored = F.transform(
        cent_lit,
        lambda ct: F.struct(ct["cell"].alias("cell"),
                            dot_col(v, ct["cv"]).alias("s")))
    neg_inf = float("-inf")
    if n_assign == 1:
        best = F.aggregate(
            scored,
            F.struct(F.lit(-1).alias("cell"),
                     F.lit(neg_inf).alias("s")),
            lambda acc, x: F.when(x["s"] > acc["s"], x).otherwise(acc))
        return embeddings.withColumn("cell", best["cell"])
    # top-2 fold: strict > keeps the LOWEST cell on exact score ties
    # (same order as a row_number over (score DESC, cell ASC))
    best2 = F.aggregate(
        scored,
        F.struct(F.lit(-1).alias("c1"), F.lit(neg_inf).alias("s1"),
                 F.lit(-1).alias("c2"), F.lit(neg_inf).alias("s2")),
        lambda acc, x: (
            F.when(x["s"] > acc["s1"],
                   F.struct(x["cell"].alias("c1"), x["s"].alias("s1"),
                            acc["c1"].alias("c2"), acc["s1"].alias("s2")))
             .when(x["s"] > acc["s2"],
                   F.struct(acc["c1"].alias("c1"), acc["s1"].alias("s1"),
                            x["cell"].alias("c2"), x["s"].alias("s2")))
             .otherwise(acc)))
    return embeddings.withColumn(
        "cell", F.explode(F.array(best2["c1"], best2["c2"])))


def _ivf_assign_arrow(embeddings: DataFrame,
                      centroids: list[tuple[int, list[float]]],
                      vec_col: str, n_assign: int) -> DataFrame:
    """Arrow strategy for ivf_assign — see its docstring for the
    bit-identity argument. Centroid normalization reuses the fold
    path's exact Python arithmetic (sqrt of a left-to-right float sum,
    then x / nrm), so the broadcast matrix holds the same doubles the
    fold's literals would."""
    import math

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    cells_np = np.array([int(cid) for cid, _ in centroids], dtype="int32")
    mat = np.empty((len(centroids), len(centroids[0][1])), dtype="float64")
    for i, (_, vec) in enumerate(centroids):
        nrm = math.sqrt(sum(float(x) * float(x) for x in vec)) or 1.0
        mat[i] = [float(x) / nrm for x in vec]
    bc = embeddings.sparkSession.sparkContext.broadcast((cells_np, mat))

    def _scores(vs: pd.Series):
        cells, C = bc.value
        M = np.stack(vs.to_numpy())
        acc = np.zeros((M.shape[0], C.shape[0]), dtype="float64")
        for j in range(C.shape[1]):  # dim-sequential == fold order
            acc += M[:, j, None] * C[None, :, j]
        return cells, acc

    v = F.col(vec_col).cast("array<double>")
    if n_assign == 1:
        @pandas_udf("int")
        def _cell1(vs: pd.Series) -> pd.Series:
            if len(vs) == 0:
                return pd.Series([], dtype="int32")
            cells, acc = _scores(vs)
            return pd.Series(cells[np.argmax(acc, axis=1)])

        return embeddings.withColumn("cell", _cell1(v))

    @pandas_udf("array<int>")
    def _cell2(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        cells, acc = _scores(vs)
        i1 = np.argmax(acc, axis=1)
        if acc.shape[1] == 1:  # fold keeps c2 = -1 (init) when k == 1
            return pd.Series([[int(a), -1] for a in cells[i1]])
        acc[np.arange(acc.shape[0]), i1] = float("-inf")
        i2 = np.argmax(acc, axis=1)
        return pd.Series([[int(a), int(b)]
                          for a, b in zip(cells[i1], cells[i2])])

    return embeddings.withColumn("cell", F.explode(_cell2(v)))


def sample_hash_col(id_col: str) -> Column:
    """Portable deterministic pseudo-random order key: md5_int60_col of
    the id rendered as a string (DuckDB twin:
    ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT)."""
    from ocr_engine_spark.functions.text import md5_int60_col
    return md5_int60_col(F.col(id_col).cast("string"))


def pick_centroids(embeddings: DataFrame, n_centroids: int = 8,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """Deterministic UNIFORM centroid seed: order by a hash of the id
    and take the first n — a reproducible random sample of the corpus
    (a lowest-id prefix is layout-correlated and seeds clustered,
    overlapping cells). One TakeOrdered job, n rows to the driver;
    reproducible in SQL, so the whole IVF query is oracle-checkable."""
    rows = (embeddings
            .orderBy(sample_hash_col(id_col).asc(), F.col(id_col).asc())
            .limit(n_centroids).select(vec_col).collect())
    return [(i, [float(x) for x in r[0]]) for i, r in enumerate(rows)]


def refine_centroids(embeddings: DataFrame,
                     centroids: list[tuple[int, list[float]]],
                     iters: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding"
                     ) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd refinement of the hash-sampled seed — each
    iteration is two DataFrame stages, nothing iterative per row:

      1. map-only nearest-centroid assignment (``ivf_assign``: constant
         centroid literal, one aggregate fold, no shuffle);
      2. per-cell mean via ``posexplode`` + groupBy(cell, pos).avg —
         the dim-fold explode is map-side and the partial agg combines
         to k x dim rows per partition, so the shuffle carries
         O(partitions x k x dim), never the corpus.

    Only k x dim averaged values reach the driver per iteration. Means
    are rounded to 10 decimals so the refined centroids are PORTABLE:
    a DuckDB replay summing in a different order lands on the same
    grid point (fp sum error ~1e-15 << the 5e-11 half-grid), keeping
    the whole refined-IVF query oracle-checkable. Empty cells keep
    their previous centroid (standard Lloyd convention)."""
    cents = centroids
    for _ in range(iters):
        assigned = ivf_assign(embeddings, cents, id_col, vec_col,
                              n_assign=1)
        mean_rows = (assigned
                     .select("cell",
                             F.posexplode(F.col(vec_col)
                                          .cast("array<double>"))
                             .alias("pos", "x"))
                     .groupBy("cell", "pos").agg(F.avg("x").alias("m"))
                     .collect())  # k x dim rows: bounded by design
        by_cell: dict[int, dict[int, float]] = {}
        for r in mean_rows:
            by_cell.setdefault(int(r["cell"]), {})[int(r["pos"])] = \
                round(float(r["m"]), 10)
        cents = [
            (cid,
             [by_cell[cid][p] for p in range(len(old))]
             if cid in by_cell else old)
            for cid, old in cents
        ]
    return cents


def ivf_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             n_centroids: int = 8, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: list[tuple[int, list[float]]] | None = None,
             n_assign: int = 2, refine_iters: int = 2) -> DataFrame:
    """Approximate top-k: score only vectors in the ``n_probe`` cells
    nearest the query (with redundant assignment by default — see
    ivf_assign; seed centroids Lloyd-refined by default — see
    refine_centroids). Recall floor asserted against brute_topk in
    tests. One-shot convenience; the build-once lifecycle is
    IvfIndex. Explicit ``centroids`` are used as-is (not refined)."""
    if centroids is not None:
        cents = centroids
    else:
        cents = pick_centroids(embeddings, n_centroids, id_col, vec_col)
        if refine_iters > 0:
            cents = refine_centroids(embeddings, cents, refine_iters,
                                     id_col, vec_col)
    return IvfIndex("", cents, id_col, vec_col, n_assign)._probe(
        ivf_assign(embeddings, cents, id_col, vec_col, n_assign),
        query_vec, k, n_probe)


class IvfIndex:
    """Build-once / probe-many IVF lifecycle (the 10^12-row shape):
    ``build`` assigns every vector to its nearest centroid ONCE and
    writes the assignment ``partitionBy("cell")``, so each probe reads
    only ``n_probe / n_centroids`` of the data via PARTITION PRUNING at
    the scan (plan-asserted in tests) — no per-query assignment
    recompute, no crossJoin, no full-table read. Centroids persist as
    JSON next to the data (the 'index metadata' analog of an Iceberg
    table property)."""

    def __init__(self, path: str,
                 centroids: list[tuple[int, list[float]]],
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_assign: int = 1):
        self.path = path
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_assign = n_assign

    @property
    def assignment_path(self) -> str:
        import os
        return os.path.join(self.path, "assignment")

    @classmethod
    def build(cls, embeddings: DataFrame, path: str, n_centroids: int = 8,
              id_col: str = "vec_id", vec_col: str = "embedding",
              n_assign: int = 2, refine_iters: int = 2) -> "IvfIndex":
        import os
        spark = embeddings.sparkSession
        cents = pick_centroids(embeddings, n_centroids, id_col, vec_col)
        if refine_iters > 0:
            cents = refine_centroids(embeddings, cents, refine_iters,
                                     id_col, vec_col)
        idx = cls(path, cents, id_col, vec_col, n_assign)
        assigned = ivf_assign(embeddings, cents, id_col, vec_col, n_assign)
        assigned.write.partitionBy("cell").mode("overwrite") \
            .parquet(idx.assignment_path)
        # index metadata through the SAME filesystem as the data (a
        # driver-local open() would break on hdfs://- or s3a://-rooted
        # index paths)
        spark.createDataFrame(
            [(cid, vec, n_assign) for cid, vec in cents],
            "cell int, centroid array<double>, n_assign int") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(path, "centroids"))
        return idx

    @classmethod
    def load(cls, spark, path: str, id_col: str = "vec_id",
             vec_col: str = "embedding") -> "IvfIndex":
        import os
        rows = spark.read.parquet(os.path.join(path, "centroids")) \
            .orderBy("cell").collect()
        cents = [(int(r.cell), [float(x) for x in r.centroid])
                 for r in rows]
        return cls(path, cents, id_col, vec_col,
                   int(rows[0].n_assign) if rows else 1)

    def append(self, embeddings: DataFrame) -> "IvfIndex":
        """Incremental ingest (the SearchIndex/MinHashIndex lifecycle
        move): new vectors are assigned against the STORED centroids —
        the historical corpus is never re-assigned, probes keep their
        partition pruning because the appended rows land in the same
        ``cell=`` directories. Centroids intentionally do NOT move
        (moving them would strand old assignments); when drift
        accumulates, rebuild — the compact-then-swap batch job.
        Caller contract: new ids only (dedup upstream)."""
        assigned = ivf_assign(embeddings, self.centroids, self.id_col,
                              self.vec_col, self.n_assign)
        assigned.write.partitionBy("cell").mode("append") \
            .parquet(self.assignment_path)
        return self

    def probe_cells(self, query_vec: list[float], n_probe: int) -> list[int]:
        import math

        def cos(a: list[float], b: list[float]) -> float:
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb) if na and nb else 0.0

        ranked = sorted(self.centroids,
                        key=lambda c: -cos(c[1], query_vec))[:n_probe]
        return [c[0] for c in ranked]

    def topk(self, spark, query_vec: list[float], k: int = 10,
             n_probe: int = 2) -> DataFrame:
        return self._probe(spark.read.parquet(self.assignment_path),
                           query_vec, k, n_probe)

    def _probe(self, assigned: DataFrame, query_vec: list[float], k: int,
               n_probe: int) -> DataFrame:
        """Probe tail shared with ``ivf_topk``: the ``n_probe`` nearest
        cells (partition-pruned on a stored assignment), one copy per
        multi-assigned vector, exact top-k."""
        scoped = assigned.filter(
            F.col("cell").isin(self.probe_cells(query_vec, n_probe)))
        if self.n_assign > 1:
            scoped = scoped.dropDuplicates([self.id_col])
        return brute_topk(scoped, query_vec, k, self.id_col, self.vec_col)


# ---------------------------------------------------------------------------
# random-hyperplane LSH (cosine near-dup pairs)
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, n_planes: int = 12, seed: int = 42
                ) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(n_planes)]


def lsh_band_buckets_udf(planes: list[list[float]], n_bands: int,
                         rows_per_band: int):
    """Arrow-batched band-bucket assignment: all b*r sign bits of a
    batch in one matmul, packed into one int per band. Returns a UDF
    producing ``array<long>`` of length n_bands (index = band id)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype="float64").T  # dim x (b*r)
    W = (1 << np.arange(rows_per_band, dtype="int64"))

    @pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        M = np.stack(v.to_numpy())                       # n x dim
        S = (M @ P) > 0                                  # n x (b*r)
        B = S.reshape(len(M), n_bands, rows_per_band) @ W  # n x b
        return pd.Series(list(B.astype("int64")))

    return _buckets


def lsh_recall_estimate(threshold: float, n_bands: int,
                        rows_per_band: int) -> float:
    """Worst-case (boundary) recall of the banded OR-construction: a
    pair at exactly ``cosine = threshold`` collides in one band with
    probability p^r where p = 1 - acos(t)/pi, and is a candidate if ANY
    band collides: 1 - (1 - p^r)^b. Pairs above the threshold do
    strictly better. Used to size (b, r) and asserted in tests."""
    import math
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    return 1.0 - (1.0 - p ** rows_per_band) ** n_bands


def verify_cosine_pairs(base: DataFrame, cands: DataFrame,
                        threshold: float, *,
                        broadcast_max_bytes: int = 64 << 20) -> DataFrame:
    """Exact-cosine verification of candidate id pairs — the shared
    tail of every bucketed similarity operator (LSH, SemDeDup cells).

    ``base`` is (id, v: array<double>) — persisted by the caller;
    ``cands`` is (id_a, id_b). Two result-identical paths: when the
    whole vector matrix fits ``broadcast_max_bytes`` it is broadcast
    once and only the 16 B/pair ID tuples cross Arrow (dominant when
    candidates are dense); otherwise candidates equi-join their two
    vectors (candidates ≪ corpus at table scale, so the joins shuffle
    only candidate rows). Both run the same einsums over the same rows
    — bit-equal cosines, rounded to 6 before thresholding."""
    n_vec = base.count()
    first = base.select("v").first()
    dim = len(first[0]) if first else 0
    if n_vec * dim * 8 <= broadcast_max_bytes:
        import numpy as np
        rows = base.collect()  # bounded by broadcast_max_bytes (guard)
        index = {r["id"]: i for i, r in enumerate(rows)}
        M = np.stack([np.asarray(r["v"], dtype="float64")
                      for r in rows]) if rows else np.zeros((0, 0))
        bc = base.sparkSession.sparkContext.broadcast((index, M))
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def _cos_by_id(ida: pd.Series, idb: pd.Series) -> pd.Series:
            import numpy as np
            idx, mat = bc.value
            if len(ida) == 0:
                return pd.Series([], dtype="float64")
            a = mat[[idx[i] for i in ida]]
            b = mat[[idx[i] for i in idb]]
            num = np.einsum("ij,ij->i", a, b)
            den = (np.sqrt(np.einsum("ij,ij->i", a, a))
                   * np.sqrt(np.einsum("ij,ij->i", b, b)))
            return pd.Series(num / den)

        pair_cos = _cos_by_id(F.col("id_a"), F.col("id_b"))
        return (cands
                .select("id_a", "id_b",
                        F.round(pair_cos, 6).alias("cosine"))
                .filter(F.col("cosine") >= threshold))
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    bb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    pair_cos = cosine_pairs_udf()(F.col("va"), F.col("vb"))
    return (cands.join(a, "id_a").join(bb, "id_b")
            .select("id_a", "id_b", F.round(pair_cos, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def cosine_near_pairs(embeddings: DataFrame, threshold: float = 0.9,
                      n_bands: int = 8, rows_per_band: int = 2,
                      seed: int = 42,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      broadcast_max_bytes: int = 64 << 20) -> DataFrame:
    """Embedding near-duplicate pairs via BANDED random-hyperplane LSH
    (OR-construction): b independent bands of r sign bits each; a pair
    is a candidate if it agrees on ALL bits of ANY band, then exact
    cosine verifies. A single AND-band (the naive form) has boundary
    recall p^r — e.g. ~4% for 6 planes at threshold 0.25; the banded
    union is 1-(1-p^r)^b (see ``lsh_recall_estimate``; defaults give
    0.96+ at 0.25 and ~1.0 at 0.9).

    Plan shape: ONE shuffle on (band_id, bucket) for candidates (never
    a cross join). Verify has two paths: when the vector matrix fits
    ``broadcast_max_bytes`` it is broadcast once and only the candidate
    ID PAIRS cross Arrow (16 B/pair instead of two full vectors —
    dominant when candidates approach all-pairs); a table-scale corpus
    takes the equi-join path, where candidates ≪ corpus so the verify
    joins shuffle only candidate rows. Both paths run the same einsums
    over the same rows — bit-equal results. Lower thresholds need
    smaller r / more bands (more candidates — inherent LSH cost); at
    10^12 rows run near-dup detection at thresholds >= 0.7.

    Cache lifecycle: the persisted projection is released by Spark's
    ContextCleaner once the returned plan is GC'd;
    ``spark.catalog.clearCache()`` releases it deterministically. The
    broadcast-path matrix is ALSO freed only via ContextCleaner on GC
    (clearCache does not touch broadcasts), and the driver transiently
    holds Row objects several times the raw matrix bytes while
    collecting — the conservative default cap accounts for both."""
    first = embeddings.select(vec_col).first()
    dim = len(first[0])
    planes = hyperplanes(dim, n_bands * rows_per_band, seed)
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v")).persist()
    # bucketing = O(rows x bands x r x dim) sign-dots — the map-side
    # cost of the whole operator at table scale. One numpy matmul per
    # Arrow batch (n x dim @ dim x b*r) replaces b*r interpreted HOF
    # folds per row (~50x); sign parity vs the fold is exact except
    # for |dot| within accumulation noise of 0 (measure-zero inputs).
    bkts = lsh_band_buckets_udf(planes, n_bands, rows_per_band)
    e = (base.select("id", bkts(F.col("v")).alias("bs"))
         .select("id", F.posexplode("bs").alias("bi", "bv")))
    l, r = e.alias("l"), e.alias("r")
    cands = (l.join(r, ["bi", "bv"])
              .filter(F.col("l.id") < F.col("r.id"))
              .select(F.col("l.id").alias("id_a"),
                      F.col("r.id").alias("id_b"))
              .distinct())
    return verify_cosine_pairs(base, cands, threshold,
                               broadcast_max_bytes=broadcast_max_bytes)


def semantic_contamination(corpus: DataFrame, benchmark: DataFrame, *,
                           threshold: float = 0.8,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           bench_vec_col: str = "embedding",
                           bench_max_bytes: int = 256 << 20) -> DataFrame:
    """Embedding-space benchmark decontamination: (vec_id, max_cosine,
    n_bench_hits) for every corpus vector whose maximum cosine against
    ANY benchmark embedding reaches ``threshold`` — the semantic
    complement of the n-gram overlap check in functions/decontam.py
    (paraphrased leaks share no 13-gram but sit next to the benchmark
    in embedding space; cf. SemDeDup's cosine criterion, Abbas et al.
    2023). Clean rows are ABSENT (absent == clean, the decontam
    convention).

    Plan shape at 100 TB: the benchmark matrix is SMALL by nature
    (benchmarks are MBs) — it is collected once (guarded by
    ``bench_max_bytes``), broadcast, and each Arrow batch answers with
    ONE matmul (n x dim @ dim x m): a pure MAP over the corpus, zero
    shuffle, zero corpus-side join. ``max_cosine`` is the raw float
    max rounded to 6 JVM-side (round is monotone, so max-then-round ==
    round-then-max — what the DuckDB twin computes); ``n_bench_hits``
    counts benchmark vectors at rounded-cosine >= threshold."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_b = benchmark.count()
    first = benchmark.select(bench_vec_col).first()
    dim = len(first[0]) if first else 0
    if n_b == 0 or dim == 0:
        raise ValueError("benchmark embedding set is empty")
    if n_b * dim * 8 > bench_max_bytes:
        raise ValueError(
            f"benchmark matrix ~{n_b * dim * 8} B exceeds "
            f"bench_max_bytes ({bench_max_bytes}) — shard the benchmark "
            f"and union the reports")
    rows = benchmark.select(F.col(bench_vec_col)
                            .cast("array<double>")).collect()
    B = np.stack([np.asarray(r[0], dtype="float64") for r in rows])
    bn = np.sqrt(np.einsum("ij,ij->i", B, B))
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((B, bn))

    @pandas_udf("struct<mc:double,nh:bigint>")
    def _contam(v: pd.Series) -> pd.DataFrame:
        mat, nrm = bc.value
        if len(v) == 0:
            return pd.DataFrame({"mc": pd.Series([], dtype="float64"),
                                 "nh": pd.Series([], dtype="int64")})
        A = np.stack(v.to_numpy())                      # n x dim
        an = np.sqrt(np.einsum("ij,ij->i", A, A))
        C = (A @ mat.T) / np.outer(an, nrm)             # n x m
        hits = (np.round(C, 6) >= threshold).sum(axis=1)
        return pd.DataFrame({"mc": C.max(axis=1),
                             "nh": hits.astype("int64")})

    # asNondeterministic: the UDF IS deterministic, but without the
    # marker Catalyst pushes the threshold filter below the projection
    # and re-evaluates the struct UDF for the surviving rows — TWO
    # ArrowEvalPython stages per branch (observed in PLANS.md). The
    # marker pins one evaluation; the filter runs above it.
    s = corpus.select(
        F.col(id_col),
        _contam.asNondeterministic()(
            F.col(vec_col).cast("array<double>")).alias("s"))
    return (s.select(id_col,
                     F.round(F.col("s.mc"), 6).alias("max_cosine"),
                     F.col("s.nh").alias("n_bench_hits"))
            .filter(F.col("max_cosine") >= threshold))


# ---------------------------------------------------------------------------
# seed-centroid quality scoring (LAION / FineWeb-Edu motif)
# ---------------------------------------------------------------------------

def seed_centroid(embeddings: DataFrame, seed_pred,
                  vec_col: str = "embedding") -> list[float]:
    """Per-dimension mean of a curated seed subset: posexplode +
    groupBy(pos) avg — the shuffle carries exactly ``dim`` rows after
    map-side combine no matter how large the seed set is, then ONE
    dim-row driver read (the IVF-seed discipline). Means are rounded
    to 10 decimals in-plan (the same cross-engine portability grid as
    ``refine_centroids``)."""
    seeds = embeddings.filter(seed_pred).select(
        F.col(vec_col).cast("array<double>").alias("v"))
    rows = (seeds.select(F.posexplode("v").alias("pos", "x"))
            .groupBy("pos").agg(F.round(F.avg("x"), 10).alias("m"))
            .orderBy("pos").collect())  # dim rows: bounded by design
    return [r["m"] for r in rows]


def seed_quality_scores(embeddings: DataFrame, seed_pred,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Embedding-similarity quality score (the LAION / FineWeb-Edu
    curation motif): every document scored by cosine to the centroid
    of a small curated seed set, so 'looks like the good data' becomes
    a sortable column. The centroid enters the scan as a LITERAL —
    scoring is map-only (no join, no shuffle, no UDF) and at 10^12
    rows costs exactly one extra projected expression per row; rank /
    threshold / bucket downstream however the recipe needs.

    ``seed_pred`` is any boolean Column over ``embeddings`` (e.g.
    ``F.col('label') == 0`` for an annotated seed slice)."""
    c = _vec_lit(seed_centroid(embeddings, seed_pred, vec_col))
    sim = cosine_col(F.col(vec_col).cast("array<double>"), c)
    return embeddings.select(
        "*", F.round(sim, 6).alias("seed_cosine"))


def embedding_outliers(embeddings: DataFrame, k: int = 20,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """Prototypicality pruning signal (Sorscher et al. 2022, "Beyond
    neural scaling laws": distance-to-centroid ranks what to KEEP —
    prune the most prototypical when data is abundant, the hardest
    outliers when it is scarce; SemDeDup's companion knob): squared L2
    from every embedding to the GLOBAL centroid, surfacing the top-k
    of both tails.

    Shape: ``seed_centroid`` (one dim-row shuffle + bounded driver
    read) puts the centroid in the scan as a literal; the distance is
    one map-side fold per row; each tail is a TakeOrdered top-k. No
    join, no UDF, nothing corpus-sized moves. Portability: centroid
    on the 10-decimal grid, d2 rounded to 6 BEFORE the (d2, id)
    presentation sort so both engines select identical tails."""
    from ocr_engine_spark.functions.pq import sqdist_col
    cent = seed_centroid(embeddings, F.lit(True), vec_col)
    d2 = F.round(sqdist_col(F.col(vec_col).cast("array<double>"),
                            _vec_lit(cent)), 6)
    base = embeddings.select(F.col(id_col), d2.alias("d2"))
    out = (base.orderBy(F.col("d2").desc(), F.col(id_col).asc())
           .limit(int(k)).withColumn("scope", F.lit("outlier")))
    proto = (base.orderBy(F.col("d2").asc(), F.col(id_col).asc())
             .limit(int(k)).withColumn("scope", F.lit("prototype")))
    return out.unionByName(proto)


def sparse_projection_matrix(dim: int, k: int) -> list[list[int]]:
    """Achlioptas (2003) database-friendly JL matrix, derived from the
    portable md5 basis so any engine can re-derive it: entry r[j][i]
    for output dim j and input dim i is +1 / -1 / 0 with probability
    1/6 / 1/6 / 2/3 via ``md5-int60(f"{j}:{i}") % 6`` (0 -> +1,
    1 -> -1, else 0). Returned as a k x dim list of ints."""
    import hashlib
    out = []
    for j in range(k):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[:15],
                    16) % 6
            row.append(1 if h == 0 else (-1 if h == 1 else 0))
        out.append(row)
    return out


def project_embedding_cols(vec: Column, matrix: list[list[int]]) -> Column:
    """RAW projected coordinates ``s_j = sum_i x_i * r[j][i]`` as an
    array of doubles, each rounded to 6 (the cross-engine grid: a
    different summation order lands on the same grid point). Only the
    ~1/3 nonzero entries materialize — a flat codegen'd +- chain per
    output dim, no HOF, no matrix join."""
    outs = []
    for row in matrix:
        s: Column | None = None
        for i, r in enumerate(row):
            if r == 0:
                continue
            t = F.element_at(vec, i + 1)
            t = t if r > 0 else -t
            s = t if s is None else s + t
        outs.append(F.round(s if s is not None else F.lit(0.0), 6))
    return F.array(*outs)


def jl_projection_audit(embeddings: DataFrame, *, k: int = 16,
                        max_id: int = 20, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Johnson-Lindenstrauss distortion audit (JL 1984; Achlioptas
    2003): project to ``k`` dims with the sparse +-1 matrix and
    compare pairwise squared distances — for the sparse scheme
    ``E[d2_proj] = d2 * k/3`` (entry variance 1/3), so
    ``ratio_ppm = floor(d2p * 3e6 / (k * d2) + 0.5)`` concentrates at
    1e6 with O(1/sqrt(k)) spread. The audit quantifies what replacing
    64-dim scans with k-dim scans costs BEFORE a pipeline swaps its
    ANN prefilter to the compressed space.

    Plan: projection is map-side (bounded +- chains); the audit pair
    join runs on the ``max_id``-bounded sample only. Returns
    (id_a, id_b, d2, d2p, ratio_ppm) for d2 > 0 pairs."""
    from ocr_engine_spark.functions.pq import sqdist_col
    emb = embeddings.filter(F.col(id_col) < max_id)
    probe = emb.select(vec_col).first()
    if probe is None:
        raise ValueError(
            f"jl_projection_audit: no rows with {id_col} < {max_id}; "
            "raise max_id or check the id column")
    dim = len(probe[0])
    m = sparse_projection_matrix(dim, k)
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(id_col).alias("id"),
                      v.alias("v"),
                      project_embedding_cols(v, m).alias("s"))
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                    F.col("s").alias("sa"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                    F.col("s").alias("sb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    d2 = F.round(sqdist_col(F.col("va"), F.col("vb")), 6)
    d2p = F.round(sqdist_col(F.col("sa"), F.col("sb")), 6)
    out = pairs.select("id_a", "id_b", d2.alias("d2"),
                       d2p.alias("d2p"))
    ratio = F.floor((F.col("d2p") * F.lit(3000000.0))
                    / (F.lit(float(k)) * F.col("d2")) + F.lit(0.5)) \
        .cast("long")
    return (out.filter(F.col("d2") > 0)
            .withColumn("ratio_ppm", ratio))
