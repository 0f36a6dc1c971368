r"""LM-perplexity quality filtering — the CCNet recipe (Wenzek et al.,
LREC 2020, arXiv:1911.00359): score every document's perplexity under a
language model trained on a small CLEAN reference corpus (CCNet uses a
KenLM 5-gram on Wikipedia), then split the corpus into head / middle /
tail perplexity buckets; training mixes prefer head+middle.

Re-expressed Spark-first with the repo's portability discipline:

  * the LM is a hashed-vocabulary add-alpha bigram model — context and
    word tokens hash into ``buckets`` slots via the repo-wide portable
    60-bit md5 hash, so DuckDB replays every count and every score
    (a KenLM binary would be an opaque, unverifiable side input);
  * the interpolated Kneser-Ney scorers (orders 2 and 3, the smoothing
    KenLM uses) are ONE order-n recursion over continuation-count
    tables on the same hashed basis (``_fit_kn`` / ``doc_log_ppl_kn``);
  * every per-bigram log probability is quantized ONCE to integer
    micro-nats (the dsir.py fixed-point rule) so per-doc sums are exact
    64-bit arithmetic in any engine / summation order;
  * the head/middle/tail cut is by exact GLOBAL RANK of the score, not
    by approximate percentile — reusing sample.global_stratum_ranks'
    range-partition prefix-rank engine (bounded driver read, no
    single-task global window), with integer-percent cutoffs
    (``(N * head_pct) div 100``) so the boundary is engine-exact.

Plan shape at 100 TB:

  * the reference corpus is small by construction (CCNet: Wikipedia) —
    both count tables are built once and BROADCAST; scoring the corpus
    is map-side joins + one (doc_id, partial-sum) shuffle with map-side
    combine;
  * the bucket cut is one range partition by score + a bounded
    per-(partition) count read — the same machinery already proven for
    stratified sampling and sequence packing.

Per-doc scores are mean negative log-likelihood per bigram in
micro-nats — exactly ``ln(perplexity) * 1e6`` under the bigram model —
monotone in perplexity, so ranking/bucketing on it is ranking on
perplexity without ever leaving integer space.

Documents with fewer than two tokens have no bigrams and no perplexity;
they are absent from the scored output (CCNet likewise drops
empty/degenerate docs before LM scoring) — callers wanting them must
anti-join and route them to ``tail`` explicitly.

Reference parity: the reference repo has no corpus-quality stage (it
serves per-request OCR); this operator belongs to the LLM-training-data
layer the graft adds (SURVEY §2 extension), alongside dsir/decontam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_engine_spark.functions.decontam import word_tokens_col
from ocr_engine_spark.functions.text import md5_int60_col

MICRO = 1e6  # fixed-point scale: integer micro-nats (dsir.MICRO twin)


def _ngram_buckets(df: DataFrame, keys: tuple[str, ...], *, buckets: int,
                   id_col: str, text_col: str) -> DataFrame:
    """One (id, *keys) row per n-gram occurrence, n = ``len(keys)``:
    each position's token bucket under the portable 60-bit hash. Pure
    map-side — tokenize once (materialized column: HOFs never codegen,
    see functions/text.py), zip the token array against its n-1
    shifts, explode; docs under n tokens contribute nothing. DuckDB
    twins zip n ``unnest``s of the shifted slices in one SELECT."""
    toks = df.select(F.col(id_col),
                     word_tokens_col(F.col(text_col)).alias("__t"))
    n, size = len(keys), F.size("__t")
    grams = F.when(size >= n, F.arrays_zip(
        *[F.slice("__t", i + 1, size - (n - 1)).alias(k)
          for i, k in enumerate(keys)])
    ).otherwise(F.array().cast(
        "array<struct<%s>>" % ",".join(f"{k}:string" for k in keys)))
    return (toks.select(id_col, F.explode(grams).alias("__g"))
            .select(id_col, *[(md5_int60_col(F.col(f"__g.{k}"))
                               % F.lit(buckets)).alias(k)
                              for k in keys]))


def bigram_pairs(df: DataFrame, *, buckets: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """One (id, cb, wb) row per bigram occurrence: context bucket and
    word bucket under the portable 60-bit hash."""
    return _ngram_buckets(df, ("cb", "wb"), buckets=buckets,
                          id_col=id_col, text_col=text_col)


def _per_doc_nll(grams: DataFrame, p, *, id_col: str,
                 count_col: str) -> DataFrame:
    """(id, count_col, nll_micro, log_ppl_micro) from one row per gram
    carrying its probability ``p``: ln(p) is quantized ONCE to integer
    micro-nats, per-doc sums are exact int64, and ``log_ppl_micro =
    nll_micro div count`` (one (doc, partial-sum) shuffle with
    map-side combine)."""
    lp_micro = F.round(F.log(p) * F.lit(MICRO), 0).cast("long")
    return (grams.withColumn("__lp", lp_micro)
            .groupBy(id_col)
            .agg(F.count("*").alias(count_col),
                 (-F.sum("__lp")).alias("nll_micro"))
            .withColumn("log_ppl_micro",
                        F.expr(f"nll_micro div {count_col}")))


def fit_bigram_lm(reference: DataFrame, *, buckets: int,
                  id_col: str = "doc_id", text_col: str = "text"
                  ) -> tuple[DataFrame, DataFrame]:
    """(ctx_counts, big_counts): ``(cb, c_ctx)`` context-occurrence
    counts and ``(cb, wb, c_big)`` bigram counts over the reference
    corpus. Both are bounded by the reference's gram volume (small by
    construction) and enter scoring as broadcast build sides."""
    pairs = bigram_pairs(reference, buckets=buckets, id_col=id_col,
                         text_col=text_col)
    ctx = pairs.groupBy("cb").agg(F.count("*").alias("c_ctx"))
    big = pairs.groupBy("cb", "wb").agg(F.count("*").alias("c_big"))
    return ctx, big


def doc_log_ppl(docs: DataFrame, ctx_counts: DataFrame,
                big_counts: DataFrame, *, buckets: int,
                alpha: float = 1.0, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, n_bigrams, nll_micro, log_ppl_micro) per document with
    >= 1 bigram. ``log_ppl_micro = nll_micro div n_bigrams`` — mean
    negative log-likelihood per bigram in integer micro-nats, i.e.
    ``ln(perplexity) * 1e6``. Add-alpha smoothing:
    ``p(w|c) = (c_big + alpha) / (c_ctx + alpha * buckets)`` with
    counts coalesced to 0 for grams unseen in the reference; p <= 1
    always (c_big <= c_ctx), so every per-gram term is >= 0."""
    pairs = bigram_pairs(docs, buckets=buckets, id_col=id_col,
                         text_col=text_col)
    joined = (pairs
              .join(F.broadcast(big_counts), ["cb", "wb"], "left")
              .join(F.broadcast(ctx_counts), ["cb"], "left")
              .withColumn("c_big", F.coalesce(F.col("c_big"), F.lit(0)))
              .withColumn("c_ctx", F.coalesce(F.col("c_ctx"), F.lit(0))))
    alpha_v = alpha * buckets  # python-folded literal, same in SQL twin
    p = (F.col("c_big") + F.lit(alpha)) / (F.col("c_ctx") + F.lit(alpha_v))
    return _per_doc_nll(joined, p, id_col=id_col, count_col="n_bigrams")


def ppl_bucket(docs: DataFrame, reference: DataFrame, *,
               buckets: int = 4096, alpha: float = 1.0,
               head_pct: int = 30, middle_pct: int = 40,
               id_col: str = "doc_id", text_col: str = "text",
               partitions: int | None = None) -> DataFrame:
    """CCNet head/middle/tail split: fit the bigram LM on ``reference``,
    score ``docs``, rank ascending by ``(log_ppl_micro, id)`` with the
    range-partition rank engine, and cut at integer-percent boundaries
    — ``head`` = ranks 1..(N*head_pct div 100), ``middle`` the next
    ``middle_pct`` percent, ``tail`` the rest. Returns (id, n_bigrams,
    log_ppl_micro, ppl_rank, bucket), deterministic in (corpus,
    reference, buckets, alpha, pcts)."""
    from ocr_engine_spark.functions.sample import global_stratum_ranks
    ctx, big = fit_bigram_lm(reference, buckets=buckets, id_col=id_col,
                             text_col=text_col)
    scored = doc_log_ppl(docs, ctx, big, buckets=buckets, alpha=alpha,
                         id_col=id_col, text_col=text_col)
    ranked = global_stratum_ranks(
        scored.withColumn("__all", F.lit("all")),
        strata_col="__all", id_col=id_col, partitions=partitions,
        order_col="log_ppl_micro")
    if ranked is None:
        return (scored.withColumn("ppl_rank", F.lit(0).cast("long"))
                .withColumn("bucket", F.lit(""))
                .filter(F.lit(False)))
    # scalar N rides a 1-row broadcast cross join — one lazy plan,
    # counted on the ranked side, which reads the rank engine's
    # persisted input (counting ``scored`` would re-run the LM fit)
    total = ranked.agg(F.count("*").alias("__n"))
    head_n = F.expr(f"(__n * {int(head_pct)}) div 100")
    mid_n = F.expr(f"(__n * {int(head_pct) + int(middle_pct)}) div 100")
    bucket = (F.when(F.col("__grank") <= head_n, F.lit("head"))
              .when(F.col("__grank") <= mid_n, F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (ranked.crossJoin(F.broadcast(total))
            .withColumn("ppl_rank", F.col("__grank").cast("long"))
            .withColumn("bucket", bucket)
            .drop("__grank", "__all", "__n"))


def _kn_keys(order: int) -> tuple[str, ...]:
    return tuple(f"b{i}" for i in range(order))


def _fit_kn(reference: DataFrame, order: int, *, buckets: int,
            id_col: str, text_col: str) -> tuple[DataFrame, ...]:
    """Interpolated Kneser-Ney statistics of any order n (Chen &
    Goodman 1998 §4.1.6 — lower orders use CONTINUATION counts, the
    KenLM formulation): ``(T_n, ctx_n, T_{n-1}, ctx_{n-1}, ..., T_2,
    ctx_2, T_1, scalars)``, where

      * ``T_n`` (b0..b{n-1}, c{n}) holds raw n-gram counts and each
        lower ``T_k`` is the continuation table of the one above —
        ``T_{k+1}`` grouped by its last k keys, ``c{k}`` = the number
        of distinct left extensions (N1+(·w) at k = 1: KN scores a
        word by how many contexts it completes, not how often it
        occurs);
      * ``ctx_k`` (the k-1 context keys, tot{k}, n1p{k}): context
        totals and N1+(ctx·), the distinct types following it;
      * ``scalars`` is 1 row of each level's count-of-counts
        (n1_{k}, n2_{k}) feeding ``D_k = n1/(n1 + 2·n2)`` and its
        type count rows{k} (``rows2`` is the unigram denominator).

    Everything flows from ONE pass over the reference's top-order
    table; every output is bounded by reference gram volume and
    broadcast into scoring."""
    keys = _kn_keys(order)
    t = (_ngram_buckets(reference, keys, buckets=buckets, id_col=id_col,
                        text_col=text_col)
         .groupBy(*keys).agg(F.count("*").alias(f"c{order}")))
    model, levels = [], []
    for k in range(order, 1, -1):
        c, ks = F.col(f"c{k}"), keys[order - k:]
        model += [t, t.groupBy(*ks[:-1]).agg(F.sum(c).alias(f"tot{k}"),
                                             F.count("*").alias(f"n1p{k}"))]
        levels.append(t.agg(F.count("*").alias(f"rows{k}"),
                            F.sum((c == 1).cast("long")).alias(f"n1_{k}"),
                            F.sum((c == 2).cast("long")).alias(f"n2_{k}")))
        t = t.groupBy(*ks[1:]).agg(F.count("*").alias(f"c{k - 1}"))
    scalars = levels[0]
    for lv in levels[1:]:
        scalars = scalars.crossJoin(lv)
    return (*model, t, scalars)


def doc_log_ppl_kn(docs: DataFrame, *model: DataFrame, buckets: int,
                   id_col: str = "doc_id", text_col: str = "text"
                   ) -> DataFrame:
    """(id, n_bigrams | n_trigrams, nll_micro, log_ppl_micro) under
    interpolated Kneser-Ney of the order ``model`` was fitted at
    (``fit_kn_bigram_lm`` / ``fit_kn_trigram_lm``), by the recursion

      ``p_1(w)   = c1(w) / rows2``, floored at ``1/(rows2 + buckets)``
      for words completing no reference context;
      ``p_k(w|ctx) = (max(c_k - D_k, 0) + D_k · N1+(ctx·) · p_{k-1})
      / tot_k(ctx)``, backing fully off to ``p_{k-1}`` when
      ``tot_k(ctx) = 0``; ``D_k = 0.5`` when ``n1 + 2·n2 = 0``.

    Portability: every D_k and p_k is ONE double expression over exact
    int64 counts (the scalars ride a broadcast 1-row cross join — never
    a Python literal, so both engines derive them from the same
    integers), ln() is quantized ONCE to micro-nats, per-doc sums are
    exact integers. The interpolation term can push p marginally above
    1 for pathological contexts (documented Chen-Goodman artifact of
    flooring p_1), so single-gram lp may be slightly positive — scores
    remain a valid ranking signal.

    Plan: 2n-1 broadcast joins + one 1-row cross join + one
    (doc, partial-sum) shuffle with map-side combine — the add-alpha
    scorer's shape."""
    order = len(model) // 2
    keys = _kn_keys(order)
    g = _ngram_buckets(docs, keys, buckets=buckets, id_col=id_col,
                       text_col=text_col)
    # T_k joins on its k-gram, ctx_k on the k-1 context before it
    on = [keys[i:j] for i in range(order) for j in (order, order - 1)
          if j > i]
    for table, ks in zip(model, on):
        g = g.join(F.broadcast(table), list(ks), "left")
    g = g.crossJoin(F.broadcast(model[-1]))
    for k in range(1, order + 1):
        for c in [f"c{k}"] + ([f"tot{k}", f"n1p{k}"] if k > 1 else []):
            g = g.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    rows2 = F.col("rows2")
    p = F.when(F.col("c1") > 0,
               F.col("c1").cast("double") / rows2.cast("double")) \
         .otherwise(F.lit(1.0) / (rows2 + F.lit(buckets)).cast("double"))
    for k in range(2, order + 1):
        n1, n2, tot = F.col(f"n1_{k}"), F.col(f"n2_{k}"), F.col(f"tot{k}")
        d = F.when(n1 + 2 * n2 == 0, F.lit(0.5)) \
             .otherwise(n1.cast("double") / (n1 + 2 * n2).cast("double"))
        p = F.when(
            tot > 0,
            (F.greatest(F.col(f"c{k}").cast("double") - d, F.lit(0.0))
             + d * F.col(f"n1p{k}").cast("double") * p)
            / tot.cast("double")) \
            .otherwise(p)
    return _per_doc_nll(g, p, id_col=id_col,
                        count_col={2: "n_bigrams", 3: "n_trigrams"}[order])


def fit_kn_bigram_lm(reference: DataFrame, *, buckets: int,
                     id_col: str = "doc_id", text_col: str = "text"
                     ) -> tuple[DataFrame, ...]:
    """Interpolated Kneser-Ney bigram statistics (Kneser & Ney 1995;
    Chen & Goodman 1998 — the smoothing KenLM itself uses, here on the
    hashed bucket basis): the order-2 ``_fit_kn`` tuple (bigram
    counts, context totals, N1+(·w), scalars), splatted into
    ``doc_log_ppl_kn(docs, *model, ...)``."""
    return _fit_kn(reference, 2, buckets=buckets, id_col=id_col,
                   text_col=text_col)


def fit_kn_trigram_lm(reference: DataFrame, *, buckets: int,
                      id_col: str = "doc_id", text_col: str = "text"
                      ) -> tuple[DataFrame, ...]:
    """Order-3 interpolated Kneser-Ney statistics: the ``_fit_kn``
    tuple scored by ``doc_log_ppl_kn3``."""
    return _fit_kn(reference, 3, buckets=buckets, id_col=id_col,
                   text_col=text_col)


def doc_log_ppl_kn3(docs: DataFrame, model: tuple[DataFrame, ...], *,
                    buckets: int, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, n_trigrams, nll_micro, log_ppl_micro): ``doc_log_ppl_kn``
    over a ``fit_kn_trigram_lm`` model (p3 -> p2 -> p1 backoff)."""
    return doc_log_ppl_kn(docs, *model, buckets=buckets, id_col=id_col,
                          text_col=text_col)
