r"""BM25 full-text search over an inverted index built, stored and
probed entirely as DataFrame ops — the corpus-search stage a training
-data pipeline needs for decontamination forensics, targeted corpus
audits ("which documents mention X") and eval-set curation.

Scoring is Lucene-flavored Okapi BM25 (Robertson & Zaragoza 2009):

  idf(t)     = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))        [>= 0]
  tfn(t, d)  = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
  score(d)   = sum_{t in query} idf(t) * tfn(t, d)

Exactness across engines: the per-(term, doc) contribution
``idf * tfn`` is quantized ONCE to integer micro-units
(``round(.. * 1e6)`` as BIGINT) and per-doc scores are integer sums —
the same fixed-point discipline as functions/dsir.py, so the DuckDB
oracle replays every score and the top-k order bit-for-bit.

Plan shape at 100 TB:

  * postings build: tokenize map-side, ONE shuffle on (doc, term) with
    map-side combine; doc lengths fall out of the same pass;
  * the stored index partitions postings by a term-hash bucket
    (``partitionBy("tbkt")``), so a query's scan reads only
    ``|query terms| / buckets`` of the index via partition pruning —
    and a term's GLOBAL document frequency lives wholly inside its
    bucket, so pruning never changes a df count;
  * query scoring: the df/idf table is |query| rows (broadcast); the
    doc-length join is co-keyed on doc_id; top-k is a
    TakeOrderedAndProject, never a global sort;
  * corpus-level stats (N, total length) are two scalars computed once
    at build time and stored as index metadata through Spark writers
    (object-store safe, same discipline as IvfIndex/MinHashIndex).

Reference parity: the reference has no search surface; this is part of
the beyond-reference LLM-data layer (SURVEY.md §2 extension table).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_engine_spark.functions.decontam import word_tokens_col
from ocr_engine_spark.functions.dsir import MICRO
from ocr_engine_spark.functions.text import md5_int60_col

__all__ = ["doc_postings", "bm25_topk", "SearchIndex"]

_WORD_RE = re.compile(r"[a-z0-9]+")


def tokenize_query(q: str) -> list[str]:
    """Driver-side twin of word_tokens_col for the (tiny) query string:
    lowercase alphanumeric runs, deduplicated, original order."""
    seen: dict[str, None] = {}
    for t in _WORD_RE.findall(q.lower()):
        seen.setdefault(t)
    return list(seen)


def doc_postings(docs: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, term, tf) postings plus the document length ``dl`` repeated
    on every row (one shuffle; dl via a size() before the explode, so
    no second aggregation pass is needed)."""
    toks = docs.select(F.col(id_col),
                       word_tokens_col(F.col(text_col)).alias("__t"))
    return (toks.select(id_col, F.size("__t").alias("dl"),
                        F.explode("__t").alias("term"))
            .groupBy(id_col, "dl", "term")
            .agg(F.count("*").alias("tf")))


def _corpus_stats(postings: DataFrame, id_col: str) -> DataFrame:
    """1-row (n_docs, total_dl) over a postings table; ``total_dl`` is
    NULL when there are no postings."""
    return (postings.groupBy(id_col).agg(F.first("dl").alias("dl"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("dl").alias("total_dl")))


def _bm25_contribs(qt: DataFrame, st: DataFrame, *, k1: float,
                   b: float) -> DataFrame:
    """``qt`` (the query terms' postings rows) plus ``c_micro``, each
    posting's ``idf * tfn`` quantized once to integer micro-units.
    ``st`` is the 1-row corpus stats; idf is one row per query term
    after a broadcast cross join with it — never a driver round
    trip."""
    dft = qt.groupBy("term").agg(F.count("*").alias("dft"))
    idf_t = (dft.crossJoin(F.broadcast(st))
             .select("term", "n_docs", "total_dl",
                     F.log(F.lit(1.0)
                           + (F.col("n_docs") - F.col("dft") + F.lit(0.5))
                           / (F.col("dft") + F.lit(0.5))).alias("idf")))
    avgdl = F.col("total_dl") / F.col("n_docs")
    tfn = (F.col("tf") * F.lit(k1 + 1.0)
           / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                         + F.lit(b) * F.col("dl") / avgdl)))
    contrib = F.round(F.col("idf") * tfn * F.lit(MICRO), 0).cast("long")
    return (qt.join(F.broadcast(idf_t), "term")
            .withColumn("c_micro", contrib))


def bm25_topk(postings: DataFrame, query_terms: list[str], k: int, *,
              k1: float = 1.2, b: float = 0.75, id_col: str = "doc_id",
              stats: tuple[int, int] | None = None) -> DataFrame:
    """Top-``k`` (rank, id, score_micro, n_terms_hit) for a bag of
    query terms against a postings table from ``doc_postings``.

    ``stats`` is the corpus (n_docs, total_dl) pair; pass the stored
    index metadata when searching an index (the postings may be a
    pruned scan that no longer sees the whole corpus). Defaults to
    computing both from ``postings`` in the same plan.
    """
    from pyspark.sql import Window

    if not query_terms:
        raise ValueError("empty query")
    qt = postings.filter(F.col("term").isin(list(query_terms)))
    if stats is None:
        st = _corpus_stats(postings, id_col)
    else:
        spark = postings.sparkSession
        st = spark.createDataFrame([stats], "n_docs long, total_dl long")
    scored = (_bm25_contribs(qt, st, k1=k1, b=b)
              .groupBy(id_col)
              .agg(F.sum("c_micro").alias("score_micro"),
                   F.count("*").alias("n_terms_hit")))
    topk = (scored.orderBy(F.col("score_micro").desc(), F.col(id_col))
            .limit(k))
    w = Window.orderBy(F.col("score_micro").desc(), F.col(id_col))
    return (topk.withColumn("rank", F.row_number().over(w))
            .select("rank", id_col, "score_micro", "n_terms_hit"))


class SearchIndex:
    """Build-once / query-many inverted index (the 10^12-doc shape):
    postings written ``partitionBy("tbkt")`` on a term-hash bucket so
    a query scans only its terms' buckets via partition pruning, with
    the corpus stats (N, total length) stored as index metadata
    through Spark writers — same lifecycle discipline as IvfIndex
    (similarity.py) and MinHashIndex (dedup.py)."""

    def __init__(self, path: str, buckets: int, n_docs: int,
                 total_dl: int, id_col: str = "doc_id"):
        self.path = path
        self.buckets = buckets
        self.n_docs = n_docs
        self.total_dl = total_dl
        self.id_col = id_col

    @property
    def postings_path(self) -> str:
        return os.path.join(self.path, "postings")

    @classmethod
    def build(cls, docs: DataFrame, path: str, *, buckets: int = 64,
              positions: bool = True, id_col: str = "doc_id",
              text_col: str = "text") -> "SearchIndex":
        """``positions=True`` (default) stores the per-(doc, term)
        position array alongside tf, enabling ``phrase()`` queries
        over the same pruned scan — tf stays a separate column so
        bag-of-words scoring never deserializes the arrays (Parquet
        column pruning drops them at the scan). Building is appending
        ``docs`` to an empty index that overwrites ``path``."""
        return cls(path, buckets, 0, 0, id_col)._write(
            docs, text_col=text_col, positions=positions, mode="overwrite")

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             id_col: str = "doc_id") -> "SearchIndex":
        r = spark.read.parquet(os.path.join(path, "meta")).collect()[0]
        return cls(path, int(r["buckets"]), int(r["n_docs"]),
                   int(r["total_dl"]), id_col)

    def append(self, docs: DataFrame, *, text_col: str = "text"
               ) -> "SearchIndex":
        """Incremental ingest (the MinHashIndex lifecycle move): new
        documents' postings append into the SAME term-hash-partitioned
        layout — the historical corpus is never re-tokenized — and the
        corpus stats update in metadata, so df/idf stay globally exact
        (a term's rows old and new still live wholly inside its
        bucket). Caller contract: ``docs`` must be NEW ids (dedup
        upstream; url_latest / drop_near_duplicates are the engine's
        tools for that) — duplicate ids would double-count df. Not
        atomic vs concurrent readers; run it as the periodic batch
        job, the same lambda split start_near_dedup_stream documents.
        """
        has_pos = "positions" in docs.sparkSession.read.parquet(
            self.postings_path).columns
        return self._write(docs, text_col=text_col, positions=has_pos,
                           mode="append")

    def _write(self, docs: DataFrame, *, text_col: str, positions: bool,
               mode: str) -> "SearchIndex":
        """Write ``docs``' postings into the term-hash-partitioned
        layout with ``mode``, then add their stats to the metadata."""
        spark = docs.sparkSession
        if positions:
            toks = docs.select(F.col(self.id_col),
                               word_tokens_col(F.col(text_col))
                               .alias("__t"))
            post = (toks.select(self.id_col, F.size("__t").alias("dl"),
                                F.posexplode("__t").alias("pos", "term"))
                    .groupBy(self.id_col, "dl", "term")
                    .agg(F.sort_array(F.collect_list("pos"))
                         .alias("positions"))
                    .withColumn("tf", F.size("positions").cast("long")))
        else:
            post = doc_postings(docs, id_col=self.id_col,
                                text_col=text_col)
        post = post.withColumn(
            "tbkt",
            (md5_int60_col(F.col("term")) % self.buckets).cast("int"))
        post.write.partitionBy("tbkt").mode(mode) \
            .parquet(self.postings_path)
        stats = _corpus_stats(post, self.id_col).collect()[0]
        self.n_docs += int(stats["n_docs"])
        self.total_dl += int(stats["total_dl"] or 0)
        if self.n_docs == 0:
            # a partitioned write of no rows leaves no file to read the
            # schema from; one zero-row file keeps the index readable
            post.drop("tbkt").limit(0).write.mode("overwrite").parquet(
                os.path.join(self.postings_path, "tbkt=0"))
        spark.createDataFrame(
            [(self.buckets, self.n_docs, self.total_dl)],
            "buckets int, n_docs long, total_dl long") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(self.path, "meta"))
        return self

    def search(self, spark: SparkSession, query: str, k: int = 10, *,
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
        """Top-k BM25 over the stored index; the tbkt IN (...) filter
        is a literal partition predicate, so the scan reads only the
        query terms' buckets (plan-asserted in tests)."""
        terms = tokenize_query(query)
        if not terms:
            raise ValueError("query has no indexable terms")
        post = self._pruned(spark, terms)
        return bm25_topk(post, terms, k, k1=k1, b=b, id_col=self.id_col,
                         stats=(self.n_docs, self.total_dl))

    def phrase(self, spark: SparkSession, phrase: str) -> DataFrame:
        """Exact-phrase occurrences over the stored index (requires a
        positions build). Ordered duplicates preserved: 'batch batch'
        means two consecutive 'batch' tokens. Bucket pruning is safe —
        every slot term's postings live wholly inside its bucket."""
        terms = [t for t in _WORD_RE.findall(phrase.lower())]
        if not terms:
            raise ValueError("phrase has no indexable terms")
        post = self._pruned(spark, terms)
        if "positions" not in post.columns:
            raise ValueError("index was built without positions")
        return phrase_search(post.select(self.id_col, "term",
                                         "positions"),
                             terms, id_col=self.id_col)

    def _pruned(self, spark: SparkSession, terms: list[str]) -> DataFrame:
        """The postings scan restricted to the terms' hash buckets —
        a literal partition predicate (plan-asserted in tests)."""
        bkts = sorted({self._bucket(t) for t in terms})
        return (spark.read.parquet(self.postings_path)
                .filter(F.col("tbkt").isin(bkts)))

    def _bucket(self, term: str) -> int:
        import hashlib
        return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) \
            % self.buckets


# ---------------------------------------------------------------------------
# positional postings + exact-phrase search
# ---------------------------------------------------------------------------

def pos_postings(docs: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, term, positions) positional postings — the phrase-query
    layer over the same one-shuffle build as ``doc_postings`` (the
    positions array replaces the bare tf; ``size(positions)`` IS tf,
    so one table can serve both scorers)."""
    toks = docs.select(F.col(id_col),
                       word_tokens_col(F.col(text_col)).alias("__t"))
    return (toks.select(id_col, F.posexplode("__t").alias("pos", "term"))
            .groupBy(id_col, "term")
            .agg(F.sort_array(F.collect_list("pos")).alias("positions")))


def phrase_search(pos_post: DataFrame, phrase_terms: list[str], *,
                  id_col: str = "doc_id") -> DataFrame:
    """Exact-phrase occurrences — the decontamination-forensics query
    ("which documents contain this benchmark sentence verbatim").

    A phrase starting at token position p exists iff
    ``p + i in positions(term_i)`` for every phrase slot i, so the
    matcher is ONE chain of ``array_intersect`` over slot-shifted
    position arrays — no joins beyond the per-doc term regroup, no
    window, no UDF. Repeated phrase terms reuse the same positions
    array under different shifts (("the", "batch", "batch") works).

    Returns (id, n_matches, first_pos), only docs with >= 1 match.
    Plan shape: the term filter prunes the postings scan; one shuffle
    regroups the (few) query-term rows per doc; everything after is a
    map-side expression. Docs missing any slot term fall out through
    the null intersect chain.
    """
    terms = list(phrase_terms)
    if not terms:
        raise ValueError("empty phrase")
    qt = pos_post.filter(F.col("term").isin(sorted(set(terms))))
    g = (qt.groupBy(id_col)
         .agg(F.map_from_entries(
             F.collect_list(F.struct("term", "positions"))).alias("__m")))
    def _shifted(term: str, k: int):
        # NB: the HOF lambda must take exactly ONE parameter — a second
        # parameter (even defaulted) makes pyspark bind the element's
        # ARRAY INDEX to it, silently corrupting the shift
        return F.transform(F.element_at(F.col("__m"), term),
                           lambda p: p - F.lit(k))

    acc = F.element_at(F.col("__m"), terms[0])
    for i, t in enumerate(terms[1:], 1):
        acc = F.array_intersect(acc, _shifted(t, i))
    return (g.select(F.col(id_col), F.size(acc).alias("n_matches"),
                     F.array_min(acc).alias("first_pos"))
            .filter(F.col("n_matches") >= 1))


def bm25_batch_topk(postings: DataFrame, queries: DataFrame, k: int, *,
                    k1: float = 1.2, b: float = 0.75,
                    id_col: str = "doc_id",
                    qid_col: str = "qid") -> DataFrame:
    """All queries scored in ONE plan — the retrieval-EVAL shape
    (the serving path runs one query against pruned buckets;
    evaluation runs hundreds, and a driver loop of bm25_topk plans
    would pay per-query job overhead and per-query df scans):
    ``queries`` is a (qid, term) table; df/idf compute ONCE per
    distinct term, postings fan out to queries via a broadcast join,
    and the per-query top-k is a qid-partitioned window over each
    query's hit set (bounded by docs containing its terms). Returns
    (qid, rank, id, score_micro, n_terms_hit), same scoring contract
    as bm25_topk (duplicate (qid, term) rows are deduplicated here,
    mirroring bm25_topk's tokenize_query dedup, so a repeated query
    term contributes once)."""
    from pyspark.sql import Window

    queries = queries.dropDuplicates([qid_col, "term"])
    terms = queries.select("term").distinct()
    qt = postings.join(F.broadcast(terms), "term")
    scored = (_bm25_contribs(qt, _corpus_stats(postings, id_col),
                             k1=k1, b=b)
              .join(F.broadcast(queries), "term")
              .groupBy(qid_col, id_col)
              .agg(F.sum("c_micro").alias("score_micro"),
                   F.count("*").alias("n_terms_hit")))
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score_micro").desc(), F.col(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(k))
            .select(qid_col, "rank", id_col, "score_micro",
                    "n_terms_hit"))


def bm25_mrr(postings: DataFrame, queries: DataFrame,
             relevance: DataFrame, k: int = 10, *,
             k1: float = 1.2, b: float = 0.75,
             id_col: str = "doc_id", qid_col: str = "qid") -> DataFrame:
    """Per-query reciprocal rank of the relevant document
    (``relevance``: (qid, rel_id)) within the BM25 top-``k``: (qid,
    rel_id, rank, rr_ppm) with rank NULL and rr_ppm 0 when the
    relevant doc misses the cutoff — mean(rr_ppm) is MRR@k in ppm.
    The standard search-quality gate (Voorhees 1999 TREC-8) run
    corpus-side so an index/analyzer change is priced before
    shipping."""
    ranked = bm25_batch_topk(postings, queries, k, k1=k1, b=b,
                             id_col=id_col, qid_col=qid_col)
    hit = ranked.select(qid_col, F.col(id_col).alias("rel_id"), "rank")
    return (relevance.join(hit, [qid_col, "rel_id"], "left")
            .select(qid_col, "rel_id",
                    F.col("rank").cast("long").alias("rank"),
                    F.coalesce(F.expr("1000000 div rank"), F.lit(0))
                    .cast("long").alias("rr_ppm")))


def rrf_fuse(rankings: DataFrame, *, k0: int = 60,
             qid_col: str = "qid", id_col: str = "doc_id") -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009 — the
    standard hybrid-retrieval combiner: score-free, so a BM25 ranking
    and a cosine ranking fuse without calibrating incomparable score
    scales): ``rankings`` is (qid, id, rank, source); each source
    contributes ``1e6 div (k0 + rank)`` — integer-exact, so fused
    scores and the re-rank are engine-identical. Returns (qid, id,
    n_sources, rrf_micro, rank). One (qid, id) groupBy + a
    qid-partitioned window over the fused candidate set (bounded by
    k_text + k_vec per query)."""
    from pyspark.sql import Window
    contrib = F.expr(f"1000000 div ({int(k0)} + rank)")
    fused = (rankings
             .select(qid_col, id_col, contrib.alias("__c"))
             .groupBy(qid_col, id_col)
             .agg(F.sum("__c").cast("long").alias("rrf_micro"),
                  F.count("*").alias("n_sources")))
    w = Window.partitionBy(qid_col).orderBy(
        F.col("rrf_micro").desc(), F.col(id_col))
    return (fused.withColumn("rank",
                             F.row_number().over(w).cast("long"))
            .select(qid_col, id_col, "n_sources", "rrf_micro", "rank"))


def term_proximity(docs: DataFrame, term_a: str, term_b: str, *,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Minimum token-distance between two terms per document — the
    classic proximity ranking feature (Clarke et al.'s cover-density
    lineage; "terms near each other beat terms far apart" is the
    first non-BM25 signal every ranker adds). Returns (id, n_a, n_b,
    min_gap) for documents containing BOTH terms, ``min_gap`` in
    token positions.

    Scale shape — the merge-scan, not the pair join: the minimal gap
    between two occurrence sets is always achieved by ADJACENT
    occurrences of different terms in the merged position order, so
    one doc-partitioned lag window over the filtered positions
    (bounded by the two terms' occurrence counts, never doc length)
    replaces the O(n_a x n_b) pair join — which is exactly what the
    DuckDB oracle runs, pinning the equivalence."""
    from pyspark.sql import Window
    a, b = term_a.lower(), term_b.lower()
    toks = (docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))),
                             r"\s+")).alias("pos", "tok"))
        .filter(F.col("tok").isin(a, b)))
    w = Window.partitionBy(id_col).orderBy("pos")
    gaps = (toks
            .withColumn("__ptok", F.lag("tok").over(w))
            .withColumn("__ppos", F.lag("pos").over(w))
            .filter(F.col("__ptok").isNotNull()
                    & (F.col("__ptok") != F.col("tok"))))
    mins = gaps.groupBy(id_col).agg(
        F.min(F.col("pos") - F.col("__ppos")).cast("long")
        .alias("min_gap"))
    counts = toks.groupBy(id_col).agg(
        F.sum((F.col("tok") == a).cast("long")).alias("n_a"),
        F.sum((F.col("tok") == b).cast("long")).alias("n_b"))
    return (counts.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
            .join(mins, id_col)
            .select(id_col, "n_a", "n_b", "min_gap")
            .orderBy(id_col))


def min_cover_window(docs: DataFrame, terms: list[str], *,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Minimal token window covering ALL ``terms`` per document —
    cover density's core quantity (Clarke, Cormack & Tudhope 2000):
    the tightest span where the whole query co-occurs. Returns
    (id, min_window) in token counts (window includes both ends) for
    documents containing every term.

    Scale shape — the sweep, not the k-way join: over the merged
    doc-ordered positions of the query terms, the minimal cover
    ENDING at position p is ``p - min_t(last occurrence of t at or
    before p) + 1``; each term's "last occurrence so far" is ONE
    conditional cumulative max over the same doc-partitioned window,
    so the whole sweep is k conditional windows + a least() — per-doc
    cost linear in the terms' occurrence counts, vs the oracle's
    O(prod n_t) k-way position join that pins the equivalence."""
    from pyspark.sql import Window
    ts = [t.lower() for t in terms]
    if len(ts) < 2:
        raise ValueError("need at least two terms")
    toks = (docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))),
                             r"\s+")).alias("pos", "tok"))
        .filter(F.col("tok").isin(ts)))
    w = (Window.partitionBy(id_col).orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lasts = toks
    for i, t in enumerate(ts):
        lasts = lasts.withColumn(
            f"__l{i}",
            F.max(F.when(F.col("tok") == t, F.col("pos"))).over(w))
    all_seen = None
    for i in range(len(ts)):
        c = F.col(f"__l{i}").isNotNull()
        all_seen = c if all_seen is None else (all_seen & c)
    span = (F.col("pos")
            - F.least(*[F.col(f"__l{i}") for i in range(len(ts))])
            + F.lit(1))
    return (lasts.filter(all_seen)
            .groupBy(id_col)
            .agg(F.min(span).cast("long").alias("min_window"))
            .orderBy(id_col))
