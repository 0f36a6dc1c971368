"""LM-perplexity filter tests (functions/lm.py): bigram extraction,
count-model math vs a pure-Python reference, bucket boundary exactness,
and determinism across partitioning."""

import math
import os
import re

import pytest
import pyspark.sql.functions as F

from ocr_engine_spark.functions.lm import (
    bigram_pairs, doc_log_ppl, fit_bigram_lm, ppl_bucket,
)
from tests.conftest import TESTDATA_SF001

V = 64


def _tok(s):
    return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]


def _h60(s):
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _pairs(s):
    t = _tok(s)
    return [(_h60(c) % V, _h60(w) % V) for c, w in zip(t, t[1:])]


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bigram_pairs_match_python(spark):
    rows = [(0, "the cat sat on the mat"), (1, "one"), (2, ""),
            (3, "a b"), (4, None)]
    # null text -> no tokens -> no pairs (filter upfront like callers do)
    df = _docs(spark, rows).filter(F.col("text").isNotNull())
    got = sorted((r.doc_id, r.cb, r.wb) for r in
                 bigram_pairs(df, buckets=V).collect())
    want = sorted((i, cb, wb) for i, s in rows if s is not None
                  for cb, wb in _pairs(s))
    assert got == want  # 1-token and empty docs emit nothing


def test_doc_log_ppl_matches_python_model(spark):
    """Spark's fixed-point scores equal a transparent Python replay of
    the add-alpha hashed bigram model."""
    ref_rows = [(100, "the cat sat on the mat"),
                (101, "the dog sat on the log"),
                (102, "cats and dogs run fast")]
    doc_rows = [(0, "the cat sat"), (1, "quantum flux capacitor whirr"),
                (2, "the dog sat on the mat")]
    alpha = 0.5
    ref = _docs(spark, ref_rows)
    docs = _docs(spark, doc_rows)
    ctx_df, big_df = fit_bigram_lm(ref, buckets=V)
    got = {r.doc_id: (r.n_bigrams, r.nll_micro, r.log_ppl_micro)
           for r in doc_log_ppl(docs, ctx_df, big_df, buckets=V,
                                alpha=alpha).collect()}

    ctx, big = {}, {}
    for _, s in ref_rows:
        for cb, wb in _pairs(s):
            ctx[cb] = ctx.get(cb, 0) + 1
            big[(cb, wb)] = big.get((cb, wb), 0) + 1
    want = {}
    for i, s in doc_rows:
        lps = [round(math.log((big.get((cb, wb), 0) + alpha)
                              / (ctx.get(cb, 0) + alpha * V)) * 1e6)
               for cb, wb in _pairs(s)]
        if lps:
            nll = -sum(lps)
            want[i] = (len(lps), nll, nll // len(lps))
    assert got == want
    # the out-of-domain doc scores strictly worse than the in-domain one
    assert got[1][2] > got[0][2]


def test_ppl_bucket_boundaries_and_order(spark):
    """Ranks are 1..N ascending by (score, id); bucket sizes follow the
    integer-percent cutoffs exactly."""
    docs = spark.read.parquet(
        os.path.join(TESTDATA_SF001, "documents.parquet")).filter(
        F.col("doc_id") < 40).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") < 10)
    out = ppl_bucket(docs, ref, buckets=256, head_pct=30,
                     middle_pct=40).collect()
    n = len(out)
    assert n > 0
    ranks = sorted(r.ppl_rank for r in out)
    assert ranks == list(range(1, n + 1))
    by_rank = sorted(out, key=lambda r: r.ppl_rank)
    scores = [(r.log_ppl_micro, r.doc_id) for r in by_rank]
    assert scores == sorted(scores)
    head_n, mid_n = n * 30 // 100, n * 70 // 100
    for r in by_rank:
        want = ("head" if r.ppl_rank <= head_n
                else "middle" if r.ppl_rank <= mid_n else "tail")
        assert r.bucket == want


def test_ppl_bucket_deterministic_across_partitioning(spark):
    docs = spark.read.parquet(
        os.path.join(TESTDATA_SF001, "documents.parquet")).filter(
        F.col("doc_id") < 30).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    a = ppl_bucket(docs, ref, buckets=128).collect()
    b = ppl_bucket(docs.repartition(7).orderBy(F.rand(1)), ref,
                   buckets=128, partitions=3).collect()
    key = lambda rows: sorted((r.doc_id, r.n_bigrams, r.log_ppl_micro,
                               r.ppl_rank, r.bucket) for r in rows)
    assert key(a) == key(b)


def test_kn_continuation_beats_raw_frequency(spark):
    # The Kneser-Ney signature (Kneser & Ney 1995): "francisco" is
    # FREQUENT but completes only one context ("san"); "apple"
    # has the same total count spread over many contexts. After an
    # unseen context, KN must prefer "apple" (high continuation
    # count) over "francisco" (continuation count 1), even though
    # their raw unigram frequencies tie.
    from ocr_engine_spark.functions.lm import (
        doc_log_ppl_kn, fit_kn_bigram_lm,
    )
    ref_text = " ".join(["san francisco"] * 8) + " " + " ".join(
        f"{c} apple" for c in ["red", "green", "ripe", "sour", "sweet",
                               "old", "new", "wild"])
    ref = spark.createDataFrame([(0, ref_text)], ["doc_id", "text"])
    big, ctx, n1w, sca = fit_kn_bigram_lm(ref, buckets=1024)
    probe = spark.createDataFrame(
        [(1, "zzz francisco"), (2, "zzz apple")], ["doc_id", "text"])
    got = {r["doc_id"]: r["nll_micro"]
           for r in doc_log_ppl_kn(probe, big, ctx, n1w, sca,
                                   buckets=1024).collect()}
    # lower NLL = more probable; apple must win after the unseen
    # context "zzz"
    assert got[2] < got[1]


def test_kn_scores_match_python_reference(spark):
    # full-replay twin: pure-Python Kneser-Ney with the same md5
    # bucket hashing and the same single-quantized micro-nat lp
    import hashlib
    import math
    import re
    from collections import Counter
    from ocr_engine_spark.functions.lm import (
        doc_log_ppl_kn, fit_kn_bigram_lm,
    )
    B = 64

    def toks(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    def hb(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    ref_rows = [(0, "the cat sat on the mat"),
                (1, "the dog sat on the log the cat ran")]
    doc_rows = [(10, "the cat sat"), (11, "a cat flew the mat"),
                (12, "xyzzy plugh")]
    pairs = []
    for _, t in ref_rows:
        w = [hb(x) for x in toks(t)]
        pairs += list(zip(w, w[1:]))
    big = Counter(pairs)
    ctx_tot = Counter()
    n1c = Counter()
    n1w = Counter()
    for (c, w), n in big.items():
        ctx_tot[c] += n
        n1c[c] += 1
        n1w[w] += 1
    nb = len(big)
    n1 = sum(1 for v in big.values() if v == 1)
    n2 = sum(1 for v in big.values() if v == 2)
    D = 0.5 if n1 + 2 * n2 == 0 else n1 / (n1 + 2 * n2)
    want = {}
    for did, t in doc_rows:
        w = [hb(x) for x in toks(t)]
        lps = []
        for c, wd in zip(w, w[1:]):
            pc = (n1w[wd] / nb) if n1w.get(wd) else 1.0 / (nb + B)
            if ctx_tot.get(c):
                p = (max(big.get((c, wd), 0) - D, 0.0)
                     + D * n1c[c] * pc) / ctx_tot[c]
            else:
                p = pc
            # Spark round() half-up on the already-negative value
            v = math.log(p) * 1e6
            lps.append(math.floor(v + 0.5) if v >= 0
                       else -math.floor(-v + 0.5))
        if lps:
            want[did] = (len(lps), -sum(lps))
    ref = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    docs = spark.createDataFrame(doc_rows, ["doc_id", "text"])
    bigt, ctxt, n1wt, scat = fit_kn_bigram_lm(ref, buckets=B)
    got = {r["doc_id"]: (r["n_bigrams"], r["nll_micro"])
           for r in doc_log_ppl_kn(docs, bigt, ctxt, n1wt, scat,
                                   buckets=B).collect()}
    assert got == want


def test_kn3_known_trigram_beats_shuffled(spark):
    from ocr_engine_spark.functions.lm import (
        doc_log_ppl_kn3, fit_kn_trigram_lm,
    )
    ref_text = " ".join(["the cat sat on the mat"] * 6)
    ref = spark.createDataFrame([(0, ref_text)], ["doc_id", "text"])
    model = fit_kn_trigram_lm(ref, buckets=1024)
    probe = spark.createDataFrame(
        [(1, "the cat sat"), (2, "cat the sat")], ["doc_id", "text"])
    got = {r["doc_id"]: r["nll_micro"]
           for r in doc_log_ppl_kn3(probe, model,
                                    buckets=1024).collect()}
    assert got[1] < got[2]


def test_kn3_matches_python_reference(spark):
    import hashlib
    import math
    import re
    from collections import Counter
    from ocr_engine_spark.functions.lm import (
        doc_log_ppl_kn3, fit_kn_trigram_lm,
    )
    B = 64

    def toks(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    def hb(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    ref_rows = [(0, "the cat sat on the mat today"),
                (1, "the dog sat on the log and the cat ran away")]
    doc_rows = [(10, "the cat sat on a log"), (11, "xyzzy plugh quux"),
                (12, "to be")]   # < 3 tokens: absent
    tri = Counter()
    for _, t in ref_rows:
        w = [hb(x) for x in toks(t)]
        for g in zip(w, w[1:], w[2:]):
            tri[g] += 1
    tctx, n13, cont2 = Counter(), Counter(), Counter()
    for (u, v, w), n in tri.items():
        tctx[(u, v)] += n
        n13[(u, v)] += 1
        cont2[(v, w)] += 1
    c2ctx, n12, cont1 = Counter(), Counter(), Counter()
    for (v, w), n in cont2.items():
        c2ctx[v] += n
        n12[v] += 1
        cont1[w] += 1
    nb2 = len(cont2)
    n1_3 = sum(1 for x in tri.values() if x == 1)
    n2_3 = sum(1 for x in tri.values() if x == 2)
    n1_2 = sum(1 for x in cont2.values() if x == 1)
    n2_2 = sum(1 for x in cont2.values() if x == 2)
    D3 = 0.5 if n1_3 + 2 * n2_3 == 0 else n1_3 / (n1_3 + 2 * n2_3)
    D2 = 0.5 if n1_2 + 2 * n2_2 == 0 else n1_2 / (n1_2 + 2 * n2_2)
    want = {}
    for did, t in doc_rows:
        w = [hb(x) for x in toks(t)]
        lps = []
        for u, v, x in zip(w, w[1:], w[2:]):
            p1 = (cont1[x] / nb2) if cont1.get(x) else 1.0 / (nb2 + B)
            if c2ctx.get(v):
                p2 = (max(cont2.get((v, x), 0) - D2, 0.0)
                      + D2 * n12[v] * p1) / c2ctx[v]
            else:
                p2 = p1
            if tctx.get((u, v)):
                p3 = (max(tri.get((u, v, x), 0) - D3, 0.0)
                      + D3 * n13[(u, v)] * p2) / tctx[(u, v)]
            else:
                p3 = p2
            val = math.log(p3) * 1e6
            lps.append(math.floor(val + 0.5) if val >= 0
                       else -math.floor(-val + 0.5))
        if lps:
            want[did] = (len(lps), -sum(lps))
    ref = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    docs = spark.createDataFrame(doc_rows, ["doc_id", "text"])
    model = fit_kn_trigram_lm(ref, buckets=B)
    got = {r["doc_id"]: (r["n_trigrams"], r["nll_micro"])
           for r in doc_log_ppl_kn3(docs, model, buckets=B).collect()}
    assert got == want
    assert 12 not in got


@pytest.mark.parametrize("order", [2, 3])
def test_kn_scores_invariant_to_partitioning_shuffle_width_and_aqe(
        spark, order):
    """doc_log_ppl_kn returns identical rows whatever the input
    partitioning, shuffle width or AQE setting: every count is an exact
    integer and each per-gram lp is quantized before the per-doc sum."""
    from ocr_engine_spark.functions.lm import (
        doc_log_ppl_kn, fit_kn_bigram_lm, fit_kn_trigram_lm,
    )
    fit = fit_kn_bigram_lm if order == 2 else fit_kn_trigram_lm
    docs = spark.read.parquet(
        os.path.join(TESTDATA_SF001, "documents.parquet")).filter(
        F.col("doc_id") < 60).select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = [spark.conf.get(k) for k in keys]

    def scores(parts, width, aqe):
        spark.conf.set(keys[0], str(width))
        spark.conf.set(keys[1], str(aqe).lower())
        try:
            model = fit(ref.repartition(parts), buckets=64)
            return sorted(tuple(r) for r in doc_log_ppl_kn(
                docs.repartition(parts), *model, buckets=64).collect())
        finally:
            for k, v in zip(keys, before):
                spark.conf.set(k, v)

    want = scores(1, 3, True)
    assert len(want) > 40
    for setting in [(7, 3, True), (1, 17, True), (1, 3, False),
                    (7, 17, False)]:
        assert scores(*setting) == want, setting
