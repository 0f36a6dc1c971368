"""BM25 inverted-index search (functions/search.py).

Covers: (1) scores match an independent pure-Python BM25 on the same
quantized integers; (2) the stored SearchIndex returns the same top-k
as scoring the full postings directly (df counts survive bucket
pruning); (3) the bucket filter reaches the scan as a partition
filter; (4) determinism across partitionings.
"""

import math

import pytest

from pyspark.sql import functions as F

from ocr_engine_spark.functions.search import (
    SearchIndex, bm25_topk, doc_postings, tokenize_query,
)

DOCS = [
    (0, "the table scan reads rows from the table"),
    (1, "a filter after the scan drops rows early"),
    (2, "join order matters for the shuffle plan"),
    (3, "the optimizer reorders the join and the filter"),
    (4, "scan scan scan"),
    (5, "completely unrelated words about cats and pianos"),
    (6, ""),
]


def _py_bm25(query_terms, k1=1.2, b=0.75):
    """Independent reference: same quantization contract."""
    toks = {i: [t for t in text.lower().split() if t] for i, text in DOCS}
    toks = {i: t for i, t in toks.items() if t}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    scores = {}
    for term in query_terms:
        dft = sum(1 for t in toks.values() if term in t)
        if dft == 0:
            continue
        idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
        for i, t in toks.items():
            tf = t.count(term)
            if not tf:
                continue
            tfn = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b
                                                + b * len(t) / avgdl))
            scores.setdefault(i, [0, 0])
            scores[i][0] += round(idf * tfn * 1e6)
            scores[i][1] += 1
    return scores


def _corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_scores_match_python_reference(spark):
    post = doc_postings(_corpus(spark))
    q = ["scan", "filter", "join"]
    got = {r["doc_id"]: (r["score_micro"], r["n_terms_hit"])
           for r in bm25_topk(post, q, 10).collect()}
    want = {i: tuple(v) for i, v in _py_bm25(q).items()}
    assert got == want


def test_rank_order_and_k(spark):
    post = doc_postings(_corpus(spark))
    out = bm25_topk(post, ["scan"], 2).collect()
    assert [r["rank"] for r in out] == [1, 2]
    # doc 4 is pure "scan scan scan" (short, high tf) — must rank 1st
    assert out[0]["doc_id"] == 4


def test_index_roundtrip_equals_direct(spark, tmp_path):
    docs = _corpus(spark)
    idx = SearchIndex.build(docs, str(tmp_path / "ix"), buckets=8)
    idx2 = SearchIndex.load(spark, str(tmp_path / "ix"))
    assert (idx2.buckets, idx2.n_docs, idx2.total_dl) == \
        (idx.buckets, idx.n_docs, idx.total_dl)
    direct = bm25_topk(doc_postings(docs), ["scan", "filter", "join"],
                       5).collect()
    via_index = idx2.search(spark, "Scan, FILTER join!", 5).collect()
    assert [tuple(r) for r in via_index] == [tuple(r) for r in direct]


def test_bucket_filter_prunes_partitions(spark, tmp_path):
    docs = _corpus(spark)
    idx = SearchIndex.build(docs, str(tmp_path / "ix"), buckets=8)
    out = idx.search(spark, "scan", 3)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbkt" in plan


def test_tokenize_query():
    assert tokenize_query("Scan, FILTER; scan join-order!") == \
        ["scan", "filter", "join", "order"]


def test_deterministic_across_partitionings(spark):
    docs = _corpus(spark)
    outs = []
    for parts in (1, 5):
        post = doc_postings(docs.repartition(parts))
        outs.append([tuple(r)
                     for r in bm25_topk(post, ["scan", "rows"],
                                        10).collect()])
    assert outs[0] == outs[1]


# ---------------------------------------------------------------------------
# positional phrase search
# ---------------------------------------------------------------------------

def _phrase_corpus(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat the cat sat down"),
        (2, "cat sat cat sat cat sat"),
        (3, "sat the cat"),
        (4, "the dog sat on the cat"),
        (5, "batch batch batch end"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phrase_search_matches_python(spark):
    from ocr_engine_spark.functions.search import (
        phrase_search, pos_postings,
    )
    pp = pos_postings(_phrase_corpus(spark))
    for phrase in (["the", "cat"], ["cat", "sat"],
                   ["the", "cat", "sat"], ["batch", "batch"],
                   ["batch", "batch", "batch"], ["on", "the"],
                   ["missing", "cat"]):
        got = {r["doc_id"]: (r["n_matches"], r["first_pos"])
               for r in phrase_search(pp, phrase).collect()}
        want = {}
        for did, text in [(r[0], r[1])
                          for r in _phrase_corpus(spark).collect()]:
            toks = text.split()
            hits = [i for i in range(len(toks) - len(phrase) + 1)
                    if toks[i:i + len(phrase)] == phrase]
            if hits:
                want[did] = (len(hits), hits[0])
        assert got == want, phrase


def test_phrase_search_empty_raises(spark):
    from ocr_engine_spark.functions.search import (
        phrase_search, pos_postings,
    )
    pp = pos_postings(_phrase_corpus(spark))
    with pytest.raises(ValueError):
        phrase_search(pp, [])


def test_pos_postings_size_is_tf(spark):
    from ocr_engine_spark.functions.search import (
        doc_postings, pos_postings,
    )
    docs = _phrase_corpus(spark)
    via_pos = {(r["doc_id"], r["term"]): len(r["positions"])
               for r in pos_postings(docs).collect()}
    via_tf = {(r["doc_id"], r["term"]): r["tf"]
              for r in doc_postings(docs).collect()}
    assert via_pos == via_tf


def test_index_phrase_equals_direct(spark, tmp_path):
    from ocr_engine_spark.functions.search import (
        SearchIndex, phrase_search, pos_postings,
    )
    docs = _phrase_corpus(spark)
    idx = SearchIndex.build(docs, str(tmp_path / "pix"), buckets=8)
    direct = sorted(map(tuple,
                        phrase_search(pos_postings(docs),
                                      ["the", "cat"]).collect()))
    via_index = sorted(map(tuple,
                           idx.phrase(spark, "The, CAT!").collect()))
    assert via_index == direct
    # repeated-term phrase through the index
    got = {r["doc_id"]: r["n_matches"]
           for r in idx.phrase(spark, "batch batch").collect()}
    assert got == {5: 2}
    # bag-of-words search still works on the positions build
    assert idx.search(spark, "cat sat", 3).count() == 3


def test_index_without_positions_rejects_phrase(spark, tmp_path):
    from ocr_engine_spark.functions.search import SearchIndex
    docs = _phrase_corpus(spark)
    idx = SearchIndex.build(docs, str(tmp_path / "npix"), buckets=8,
                            positions=False)
    with pytest.raises(ValueError):
        idx.phrase(spark, "the cat").collect()


def test_index_append_equals_rebuild(spark, tmp_path):
    """Incremental append == full rebuild, value for value: same top-k
    scores (df/idf/avgdl all shift with the new docs) and the same
    phrase hits; metadata stats updated; collect-lint-visible reads
    stay 1-row."""
    from ocr_engine_spark.functions.search import SearchIndex
    first = spark.createDataFrame(DOCS[:4], "doc_id long, text string")
    rest = spark.createDataFrame(DOCS[4:], "doc_id long, text string")
    alldocs = spark.createDataFrame(DOCS, "doc_id long, text string")

    inc = SearchIndex.build(first, str(tmp_path / "inc"), buckets=8)
    inc.append(rest)
    full = SearchIndex.build(alldocs, str(tmp_path / "full"), buckets=8)
    assert (inc.n_docs, inc.total_dl) == (full.n_docs, full.total_dl)

    # re-load from disk: metadata round-trips
    inc2 = SearchIndex.load(spark, str(tmp_path / "inc"))
    assert (inc2.n_docs, inc2.total_dl) == (full.n_docs, full.total_dl)

    q = "table scan rows"
    got = [tuple(r) for r in inc2.search(spark, q, 10).collect()]
    want = [tuple(r) for r in full.search(spark, q, 10).collect()]
    assert got == want
    gp = sorted(map(tuple, inc2.phrase(spark, "the table").collect()))
    wp = sorted(map(tuple, full.phrase(spark, "the table").collect()))
    assert gp == wp


@pytest.mark.parametrize("positions", [True, False])
def test_index_built_empty_then_appended_equals_fresh_build(
        spark, tmp_path, positions):
    """An index built over no documents has zero stats and stays
    readable: appending one doc (plus one with no indexable token,
    which counts toward neither stat) then searching equals a fresh
    build over the same docs."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    one = spark.createDataFrame(DOCS[:1] + [(999, "-- !! --")],
                                "doc_id long, text string")
    inc = SearchIndex.build(empty, str(tmp_path / "inc"), buckets=8,
                            positions=positions)
    assert (inc.n_docs, inc.total_dl) == (0, 0)
    assert SearchIndex.load(spark, str(tmp_path / "inc")).n_docs == 0
    assert inc.search(spark, "table", 10).count() == 0
    # docs without a token write no postings and leave the stats at 0
    inc.append(one.filter("doc_id = 999"))
    assert (inc.n_docs, inc.total_dl) == (0, 0)
    inc.append(one.filter("doc_id != 999"))
    fresh = SearchIndex.build(one, str(tmp_path / "fresh"), buckets=8,
                              positions=positions)
    inc2 = SearchIndex.load(spark, str(tmp_path / "inc"))
    assert (inc2.n_docs, inc2.total_dl) == (fresh.n_docs, fresh.total_dl)
    assert (fresh.n_docs, fresh.total_dl) == (1, len(DOCS[0][1].split()))
    q = "table scan rows"
    assert ([tuple(r) for r in inc2.search(spark, q, 10).collect()]
            == [tuple(r) for r in fresh.search(spark, q, 10).collect()])


def test_bm25_mrr_planted_markers_rank_first(spark):
    import pyspark.sql.functions as F
    from ocr_engine_spark.functions.search import (
        bm25_batch_topk, bm25_mrr, doc_postings,
    )
    base = "the data table holds a scan of the order rows "
    rows = [(i, base + (f"zmark{i} zmark{i}" if i < 3 else ""))
            for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    post = doc_postings(docs)
    queries = spark.createDataFrame(
        [(q, t) for q in range(3) for t in (f"zmark{q}", "table")],
        ["qid", "term"])
    relevance = spark.createDataFrame(
        [(q, q) for q in range(3)], ["qid", "rel_id"])
    got = {r["qid"]: r for r in
           bm25_mrr(post, queries, relevance, k=5).collect()}
    # the rare planted marker dominates idf: the relevant doc is #1
    for q in range(3):
        assert got[q]["rank"] == 1
        assert got[q]["rr_ppm"] == 1_000_000
    # batched top-k agrees with the single-query scorer per qid
    from ocr_engine_spark.functions.search import bm25_topk
    single = bm25_topk(post, ["zmark1", "table"], 5).collect()
    batched = (bm25_batch_topk(post, queries, 5)
               .filter(F.col("qid") == 1).orderBy("rank").collect())
    assert [(r["rank"], r["doc_id"], r["score_micro"])
            for r in single] == \
           [(r["rank"], r["doc_id"], r["score_micro"])
            for r in batched]


def test_bm25_mrr_missing_doc_scores_zero(spark):
    from ocr_engine_spark.functions.search import bm25_mrr, doc_postings
    docs = spark.createDataFrame(
        [(i, "common words only here") for i in range(5)],
        ["doc_id", "text"])
    post = doc_postings(docs)
    queries = spark.createDataFrame([(0, "absentterm")],
                                    ["qid", "term"])
    relevance = spark.createDataFrame([(0, 3)], ["qid", "rel_id"])
    row = bm25_mrr(post, queries, relevance, k=5).collect()[0]
    assert row["rank"] is None and row["rr_ppm"] == 0


def test_rrf_fuse_arithmetic_and_order(spark):
    from ocr_engine_spark.functions.search import rrf_fuse
    rows = [
        (0, 10, 1, "text"), (0, 11, 2, "text"),
        (0, 11, 1, "vec"), (0, 12, 2, "vec"),
    ]
    df = spark.createDataFrame(rows, ["qid", "doc_id", "rank", "source"])
    got = {r["doc_id"]: r for r in rrf_fuse(df, k0=60).collect()}
    # doc 11: both sources (1/62 + 1/61); doc 10: 1/61; doc 12: 1/62
    assert got[11]["n_sources"] == 2
    assert got[11]["rrf_micro"] == 1_000_000 // 61 + 1_000_000 // 62
    assert got[10]["rrf_micro"] == 1_000_000 // 61
    assert got[12]["rrf_micro"] == 1_000_000 // 62
    assert got[11]["rank"] == 1
    assert got[10]["rank"] == 2 and got[12]["rank"] == 3


def test_term_proximity_merge_scan_equals_bruteforce(spark):
    from itertools import product

    from ocr_engine_spark.functions.search import term_proximity
    rows = [
        (0, "alpha x x beta x alpha"),        # gaps: 3, 2 -> 2
        (1, "alpha beta"),                    # adjacent -> 1
        (2, "beta x x x x alpha beta alpha"), # -> 1
        (3, "alpha only here"),               # no beta -> absent
        (4, "x beta x"),                      # no alpha -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_a, r.n_b, r.min_gap)
           for r in term_proximity(df, "alpha", "beta").collect()}
    # brute-force truth
    want = {}
    for did, text in rows:
        toks = text.split()
        pa = [i for i, t in enumerate(toks) if t == "alpha"]
        pb = [i for i, t in enumerate(toks) if t == "beta"]
        if pa and pb:
            want[did] = (len(pa), len(pb),
                         min(abs(a - b) for a, b in product(pa, pb)))
    assert got == want


def test_term_proximity_plan_is_windowed_not_pair_join(spark):
    from ocr_engine_spark.functions.search import term_proximity
    df = spark.createDataFrame([(0, "alpha beta")],
                               "doc_id long, text string")
    plan = term_proximity(df, "alpha", "beta") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every window carries a partition spec (doc-partitioned lag)
    for line in plan.splitlines():
        if "+- Window [" in line or line.strip().startswith("Window ["):
            assert len(line.split("], [")) >= 3, line


def test_min_cover_window_sweep_equals_bruteforce(spark):
    from itertools import product

    from ocr_engine_spark.functions.search import min_cover_window
    rows = [
        (0, "a x b x x c"),            # cover 0..5 -> 6
        (1, "c b a"),                  # 3
        (2, "a b x x x a c"),          # best: b(1)..c(6)=6 w/ a(5) -> 3? 
        (3, "a b x c x b a c"),        # tight tail
        (4, "a b a b"),                # no c -> absent
        (5, "c c c"),                  # only c -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.min_window
           for r in min_cover_window(df, ["a", "b", "c"]).collect()}
    want = {}
    for did, text in rows:
        toks = text.split()
        ps = [[i for i, t in enumerate(toks) if t == q]
              for q in ("a", "b", "c")]
        if all(ps):
            want[did] = min(max(c) - min(c) + 1
                            for c in product(*ps))
    assert got == want


def test_min_cover_window_rejects_single_term(spark):
    import pytest

    from ocr_engine_spark.functions.search import min_cover_window
    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        min_cover_window(df, ["a"])
