"""Aho-Corasick lexicon scan (functions/aho.py) — value parity with the
regexp-chain lexicon_scan and the automaton's own edge cases."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF001", "/root/testdata/sf0.001")
LEX = {"latency": ["slow", "crash", "stall"],
       "hype": ["fast", "big", "blazing"]}


def test_parity_with_regexp_lexicon_scan_on_fixture(spark):
    from ocr_engine_spark.functions.aho import lexicon_scan_ac
    from ocr_engine_spark.functions.scrub import lexicon_scan
    docs = (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .filter(F.col("doc_id") < 300))
    a = sorted(map(tuple, lexicon_scan(docs, LEX).collect()))
    b = sorted(map(tuple, lexicon_scan_ac(docs, LEX).collect()))
    assert a == b


def test_boundaries_overlaps_and_nesting(spark):
    from ocr_engine_spark.functions.aho import lexicon_scan_ac
    lex = {"a": ["cat", "cat food", "at"], "b": ["food"]}
    rows = [
        (0, "cat food for the cat"),   # cat x2, 'cat food' x1, food x1;
                                       # 'at' only inside words -> 0
        (1, "concatenate scatter"),    # substrings never match
        (2, "CAT-food AT at"),         # case fold; hyphen is a boundary
        (3, ""),                       # blank
        (4, "at"),                     # term == whole text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in lexicon_scan_ac(df, lex).collect()}
    assert got[0].a_hits == 3 and got[0].b_hits == 1
    assert got[1].a_hits == 0 and got[1].b_hits == 0 and not got[1].dropped
    # 'cat' (hyphen-bounded), 'at' twice standalone, 'food' after hyphen
    assert got[2].a_hits == 3 and got[2].b_hits == 1
    assert got[3].n_tokens == 0 and got[3].hit_ppm == 0
    assert got[4].a_hits == 1 and got[4].dropped


def test_parity_on_adversarial_grammar(spark):
    """Same adversarial rows through BOTH implementations — whatever
    the regexp chain says is the contract."""
    from ocr_engine_spark.functions.aho import lexicon_scan_ac
    from ocr_engine_spark.functions.scrub import lexicon_scan
    lex = {"x": ["aa", "aab", "b2b", "under_score"]}
    rows = [(i, t) for i, t in enumerate([
        "aa aab aaab b2b2b b2b", "aa_aab under_score_x under_score",
        "AAB!aa?aa", "aaaa aa aa", "_aa aa_ aa",
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, lexicon_scan(df, lex).collect()))
    b = sorted(map(tuple, lexicon_scan_ac(df, lex).collect()))
    assert a == b


def test_scales_in_terms_not_passes(spark):
    """A 5000-term lexicon builds one automaton and one plan — the
    shape regexp chains cannot reach (codegen blowup) — and still
    agrees with the chain run on the small shared subset."""
    from ocr_engine_spark.functions.aho import lexicon_scan_ac
    big = {"w": [f"zqx{i}word" for i in range(5000)] + ["slow"]}
    df = spark.createDataFrame(
        [(0, "a slow zqx17word zqx4999word day"), (1, "nothing here")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in lexicon_scan_ac(df, big).collect()}
    assert got[0].w_hits == 3 and got[1].w_hits == 0


def test_rejects_non_word_edge_terms():
    import pytest
    from ocr_engine_spark.functions.aho import build_automaton
    with pytest.raises(AssertionError):
        build_automaton(["-bad"])
    with pytest.raises(AssertionError):
        build_automaton(["bad-"])


def test_self_overlapping_term_counts_non_overlapping(spark):
    """A term that overlaps itself counts like regexp_count: leftmost
    match first, then the scan resumes after it."""
    from ocr_engine_spark.functions.aho import lexicon_scan_ac
    from ocr_engine_spark.functions.scrub import lexicon_scan
    lex = {"x": ["a b a"], "y": ["aa aa", "a b a"]}
    rows = [(0, "a b a b a"), (1, "a b a b a b a"), (2, "aa aa aa aa aa")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ac = lexicon_scan_ac(df, lex).collect()
    assert (sorted(map(tuple, lexicon_scan(df, lex).collect()))
            == sorted(map(tuple, ac)))
    got = {r.doc_id: r for r in ac}
    assert got[0].x_hits == 1 and got[1].x_hits == 2
    assert got[2].y_hits == 2
