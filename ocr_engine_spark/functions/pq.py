"""Product quantization for embedding search (Jégou et al. 2011).

IVF (similarity.py) prunes WHICH vectors to score; PQ compresses the
scoring itself: the d-dim vector becomes ``m`` one-byte codes (here
64 dims -> 8 codes, a 32x memory cut at float32), and a query scores
a candidate with ``m`` table lookups instead of a d-dim dot product —
the asymmetric distance computation (ADC) that makes billion-vector
search fit in RAM. The two compose (IVF-ADC is the FAISS default);
this module keeps PQ standalone so the oracle gates it end to end.

Determinism/portability contract (the similarity.py discipline):

* codebook seeds are the first ``k`` vectors in portable md5 order
  (``sample_hash_col``) — the same seed rows for every subspace;
* Lloyd assignment distance is the SQUARED L2 accumulated
  LEFT-TO-RIGHT over the subspace dims (a ``zip_with`` + ``aggregate``
  fold here; an explicitly unrolled ``(a-b)^2 + ...`` chain in the
  DuckDB twin — ``0.0 + t1 == t1`` exactly, so the sequences agree
  bit-for-bit); ties argmin to the lowest code;
* per-(code, dim) means round to 10 decimals (the portability grid of
  ``refine_centroids``); empty codes keep their seed centroid;
* ADC tables hold ``round(sqdist(q_sub, centroid), 6)`` — quantized
  ONCE before the m-term sum, so both engines add identical doubles
  in identical order; the final score rounds to 6 again before the
  (score, id) presentation sort.

Scale: training touches the corpus ``iters`` times per subspace with
map-only assignment + a bounded (k x d)-row mean aggregate (train
once, offline, on a sample — the FAISS workflow); encoding is
map-only; ADC top-k is map-only + TakeOrdered. Nothing shuffles the
corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ocr_engine_spark.functions.similarity import sample_hash_col

Codebook = list[tuple[int, list[float]]]


def sqdist_col(a: Column, b: Column) -> Column:
    """Squared L2 between two double arrays, left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, t: acc + t)


def _sqdist_py(a: list[float], b: list[float]) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def nearest_code_col(sub: Column, cents: Codebook) -> Column:
    """Argmin-squared-L2 code for a subvector over a constant
    codebook literal — map-only aggregate fold, ties to the lowest
    code (strict ``<`` keeps the first minimum).

    Deliberately a HOF fold, NOT an unrolled ``least``-over-structs
    chain: unrolling k×d element_at terms looked codegen-friendly but
    Catalyst inlines the subvector slice into every term and the
    collapsed projections balloon to a multi-MiB task binary
    (measured: 99 s vs 6 s for the fold at sf0.1) — the same
    expression-duplication failure mode the outer-generate helpers
    exist for. The fold keeps the tree small; the argmin itself is
    k·d lambda evals per row against literal centroids."""
    clit = F.array(*[
        F.struct(F.lit(int(j)).alias("code"),
                 F.array(*[F.lit(float(x)) for x in v]).alias("cv"))
        for j, v in cents])
    scored = F.transform(
        clit, lambda c: F.struct(c["code"].alias("code"),
                                 sqdist_col(sub, c["cv"]).alias("d")))
    best = F.aggregate(
        scored,
        F.struct(F.lit(-1).alias("code"),
                 F.lit(float("inf")).alias("d")),
        lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc))
    return best["code"]


def _sub_col(vec_col: str, s: int, d: int) -> Column:
    return F.slice(F.col(vec_col).cast("array<double>"), s * d + 1, d)


def train_pq_codebooks(embeddings: DataFrame, *, m: int = 8,
                       k: int = 16, iters: int = 1,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list[Codebook]:
    """One codebook per subspace. Driver holds m*k*d floats — the
    whole model is a broadcastable literal, never a join side.

    All ``m`` subspaces train in ONE corpus pass per Lloyd iteration:
    each row projects to an array of (subspace, code, subvector)
    structs that a single explode + groupBy(s, code, pos) reduces to
    every per-(subspace, code, dim) mean at once. The per-subspace
    means are identical to training subspaces one at a time (same
    rows, same ``avg``; the extra ``s`` grouping key only separates
    them), but a 10^12-row table is scanned once per iteration
    instead of ``m`` times — and locally, 1 job replaces 8."""
    rows = (embeddings
            .orderBy(sample_hash_col(id_col).asc(), F.col(id_col).asc())
            .limit(k).select(vec_col).collect())
    dim = len(rows[0][0])
    assert dim % m == 0, "dim must split evenly into m subspaces"
    d = dim // m
    books: list[Codebook] = [
        [(j, [float(x) for x in rows[j][0][s * d:(s + 1) * d]])
         for j in range(k)]
        for s in range(m)]
    for _ in range(int(iters)):
        per_sub = F.array(*[
            F.struct(
                F.lit(s).alias("__s"),
                nearest_code_col(_sub_col(vec_col, s, d), books[s])
                .alias("__code"),
                _sub_col(vec_col, s, d).alias("__sub"))
            for s in range(m)])
        mean_rows = (embeddings
                     .select(F.explode(per_sub).alias("__e"))
                     .select("__e.__s", "__e.__code",
                             F.posexplode("__e.__sub")
                             .alias("__pos", "__x"))
                     .groupBy("__s", "__code", "__pos")
                     .agg(F.avg("__x").alias("__m"))
                     .collect())  # m x k x d rows, bounded
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in mean_rows:
            by_key.setdefault((int(r["__s"]), int(r["__code"])), {})[
                int(r["__pos"])] = round(float(r["__m"]), 10)
        books = [
            [(j,
              [by_key[(s, j)][p] for p in range(d)]
              if (s, j) in by_key else old)
             for j, old in books[s]]
            for s in range(m)]
    return books


def pq_encode(embeddings: DataFrame, books: list[Codebook], *,
              vec_col: str = "embedding") -> DataFrame:
    """Append ``code_0..code_{m-1}`` — the compressed representation
    a PQ index stores instead of the vectors."""
    m = len(books)
    d = len(books[0][0][1])
    out = embeddings
    for s in range(m):
        out = out.withColumn(
            f"code_{s}",
            nearest_code_col(_sub_col(vec_col, s, d), books[s])
            .cast("int"))
    return out


def _adc_tables(books: list[Codebook],
                query_vec: list[float]) -> list[list[float]]:
    """Per-subspace (query-subvector -> centroid) distance tables,
    rounded ONCE to 6 before the m-term sum (the portability
    contract)."""
    m = len(books)
    d = len(books[0][0][1])
    q = [float(x) for x in query_vec]
    return [[round(_sqdist_py(q[s * d:(s + 1) * d], cv), 6)
             for _, cv in books[s]]
            for s in range(m)]


def _adc_over_codes(enc: DataFrame, books: list[Codebook],
                    query_vec: list[float], topk: int,
                    id_col: str) -> DataFrame:
    """ADC top-k over a frame that ALREADY carries code_0..code_{m-1}
    — m table lookups + a sum per row, map-only + TakeOrdered."""
    tables = _adc_tables(books, query_vec)
    adc = None
    for s, tab in enumerate(tables):
        tlit = F.array(*[F.lit(v) for v in tab])
        term = F.element_at(tlit, F.col(f"code_{s}") + 1)
        adc = term if adc is None else adc + term
    return (enc.select(F.col(id_col),
                       F.round(adc, 6).alias("adc"))
            .orderBy(F.col("adc").asc(), F.col(id_col).asc())
            .limit(topk))


def pq_adc_topk(embeddings: DataFrame, books: list[Codebook],
                query_vec: list[float], topk: int = 10, *,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Asymmetric-distance top-k: per-subspace lookup tables from the
    UNCOMPRESSED query to each centroid, summed over the stored
    codes. Returns (id, adc) ascending — approximate nearest
    neighbors at m lookups per candidate."""
    enc = pq_encode(embeddings, books, vec_col=vec_col)
    return _adc_over_codes(enc, books, query_vec, topk, id_col)


def pq_search(embeddings: DataFrame, books: list[Codebook],
              query_vec: list[float], topk: int = 10, *,
              shortlist: int = 100, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """ADC shortlist + exact re-rank — the standard PQ serving shape
    (FAISS's ``IndexPQ`` + refine): the compressed scan ranks
    EVERYTHING by table lookups and only the best ``shortlist``
    candidates pay a full-precision distance. On structure-poor
    embeddings (this fixture's are near-random, so pairwise distances
    concentrate and quantization error swamps adjacent ranks) the
    shortlist is what restores recall: ADC top-10 alone gets ~2/10
    here, a 20% shortlist + re-rank gets 8/10 — measured, and the
    honest statement of what 8-byte codes buy on 64 random dims.

    Returns (id, d2) — exact squared L2, ascending, rounded to 6 for
    the portable presentation sort."""
    short = pq_adc_topk(embeddings, books, query_vec, shortlist,
                        id_col=id_col, vec_col=vec_col)
    return _rerank(embeddings, short, query_vec, topk, id_col, vec_col)


def _rerank(vectors: DataFrame, short: DataFrame, query_vec: list[float],
            k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact re-rank of an ADC shortlist: the shortlist ids broadcast-
    join back to the full-precision ``vectors``; (id, d2) top-``k`` by
    squared L2 rounded to 6, ties to the lower id."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    d2 = sqdist_col(F.col(vec_col).cast("array<double>"), q)
    return (vectors.join(F.broadcast(short.select(id_col)), id_col)
            .select(F.col(id_col), F.round(d2, 6).alias("d2"))
            .orderBy(F.col("d2").asc(), F.col(id_col).asc())
            .limit(k))


class PqIndex:
    """Build-once / query-many PQ lifecycle (the IvfIndex /
    SearchIndex / MinHashIndex move applied to compression): ``build``
    trains the codebooks and encodes the corpus ONCE, persisting both
    — codes next to the full-precision vectors so a query pays m
    table lookups per candidate plus an exact re-rank on the
    shortlist only, never a retrain (codebook training dominates the
    one-shot ``pq_search`` cost; at 10^12 rows you train offline on a
    sample exactly once — the FAISS workflow). Codebooks persist as a
    bounded (m*k)-row parquet through the SAME filesystem as the data
    (driver-local open() would break on hdfs://- or s3a://-rooted
    paths).

    ``query`` results are bit-identical to ``pq_search`` with the
    same (books, query, shortlist): the stored codes come from the
    same ``pq_encode`` and the ADC tables round on the same grid."""

    def __init__(self, path: str, books: list[Codebook],
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        self.path = path
        self.books = books
        self.id_col = id_col
        self.vec_col = vec_col

    @property
    def encoded_path(self) -> str:
        import os
        return os.path.join(self.path, "encoded")

    @property
    def codebooks_path(self) -> str:
        import os
        return os.path.join(self.path, "codebooks")

    @classmethod
    def build(cls, embeddings: DataFrame, path: str, *, m: int = 8,
              k: int = 16, iters: int = 1, id_col: str = "vec_id",
              vec_col: str = "embedding") -> "PqIndex":
        spark = embeddings.sparkSession
        books = train_pq_codebooks(embeddings, m=m, k=k, iters=iters,
                                   id_col=id_col, vec_col=vec_col)
        idx = cls(path, books, id_col, vec_col)
        enc = pq_encode(embeddings, books, vec_col=vec_col).select(
            id_col, vec_col, *[f"code_{s}" for s in range(m)])
        enc.write.mode("overwrite").parquet(idx.encoded_path)
        spark.createDataFrame(
            [(s, j, v) for s, cb in enumerate(books) for j, v in cb],
            "s int, code int, centroid array<double>") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(idx.codebooks_path)
        return idx

    @classmethod
    def load(cls, spark, path: str, id_col: str = "vec_id",
             vec_col: str = "embedding") -> "PqIndex":
        rows = spark.read.parquet(
            cls(path, [], id_col, vec_col).codebooks_path) \
            .orderBy("s", "code").collect()
        books: list[Codebook] = []
        for r in rows:
            s = int(r["s"])
            while len(books) <= s:
                books.append([])
            books[s].append((int(r["code"]),
                             [float(x) for x in r["centroid"]]))
        return cls(path, books, id_col, vec_col)

    def append(self, embeddings: DataFrame) -> "PqIndex":
        """Incremental ingest against the STORED codebooks — the
        historical corpus is never re-encoded; when quantization
        drift accumulates, rebuild (compact-then-swap). Caller
        contract: new ids only (dedup upstream)."""
        m = len(self.books)
        enc = pq_encode(embeddings, self.books,
                        vec_col=self.vec_col).select(
            self.id_col, self.vec_col,
            *[f"code_{s}" for s in range(m)])
        enc.write.mode("append").parquet(self.encoded_path)
        return self

    def adc_topk(self, spark, query_vec: list[float],
                 topk: int = 10) -> DataFrame:
        """Compressed-domain top-k over the STORED codes: no
        training, no encoding — m lookups + a sum per row."""
        enc = spark.read.parquet(self.encoded_path)
        return _adc_over_codes(enc, self.books, query_vec, topk,
                               self.id_col)

    def topk(self, spark, query_vec: list[float], k: int = 10, *,
             shortlist: int = 100) -> DataFrame:
        """ADC shortlist + exact re-rank from the stored vectors —
        ``pq_search`` semantics (same rounding grid, same
        presentation sort) without the per-query retrain/encode."""
        return _rerank(spark.read.parquet(self.encoded_path),
                       self.adc_topk(spark, query_vec, shortlist),
                       query_vec, k, self.id_col, self.vec_col)
