"""Unigram-LM tokenizer (functions/unigram.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF001", "/root/testdata/sf0.001")


def _docs(spark):
    return (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .filter(F.col("doc_id") < 150))


def test_viterbi_prefers_cheap_long_pieces_and_breaks_ties_short():
    from ocr_engine_spark.functions.unigram import viterbi
    cost = {"a": 100, "b": 100, "ab": 150, "abab": 250}
    c, n, pieces = viterbi("abab", cost, 4)
    assert (c, n, pieces) == (250, 1, ["abab"])
    # equal-cost segmentations tie-break toward FEWER pieces
    cost2 = {"a": 100, "b": 100, "ab": 200}
    c2, n2, p2 = viterbi("ab", cost2, 4)
    assert (c2, n2, p2) == (200, 1, ["ab"])
    # unsegmentable -> sentinel triple
    assert viterbi("xyz", {"x": 1}, 4) == (-1, -1, [])


def test_seed_vocab_coverage_and_determinism(spark):
    from ocr_engine_spark.functions.unigram import (
        build_seed_vocab, segment_words,
    )
    from ocr_engine_spark.functions.bpe import word_table
    docs = _docs(spark)
    v1 = build_seed_vocab(docs, vocab_size=128)
    v2 = build_seed_vocab(docs, vocab_size=128)
    assert v1 == v2 and len(v1) == 128
    chars = {p for p, _ in v1 if len(p) == 1}
    # coverage: every distinct word segments (no sentinel rows)
    seg = segment_words(word_table(docs), v1)
    assert seg.filter(F.col("n_pieces") < 0).count() == 0
    # all word chars are in the vocab's char layer
    allchars = set("".join(
        r["word"] for r in word_table(docs).select("word").collect()))
    assert allchars <= chars


def test_hard_em_improves_or_holds_corpus_cost(spark):
    from ocr_engine_spark.functions.unigram import (
        build_seed_vocab, segment_words, train_unigram,
    )
    from ocr_engine_spark.functions.bpe import word_table
    docs = _docs(spark)
    words = word_table(docs)

    def corpus_cost(vocab):
        seg = segment_words(words, vocab)
        return (seg.select((F.col("cost_micro") * F.col("wcount"))
                           .alias("c"))
                .agg(F.sum("c")).collect()[0][0])

    seed = build_seed_vocab(docs, vocab_size=128)
    trained = train_unigram(docs, vocab_size=128, iters=2)
    # hard EM reweights toward pieces actually used: corpus NLL under
    # the trained costs must not be wildly worse, and the trained
    # vocab keeps full coverage
    seg = segment_words(words, trained)
    assert seg.filter(F.col("n_pieces") < 0).count() == 0
    assert corpus_cost(trained) <= corpus_cost(seed) * 1.05


def test_encode_unigram_token_accounting(spark):
    from ocr_engine_spark.functions.unigram import (
        build_seed_vocab, encode_unigram,
    )
    rows = [(0, "the cat sat"), (1, "the the the"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = build_seed_vocab(df, vocab_size=16)
    got = {r.doc_id: r for r in encode_unigram(df, vocab).collect()}
    assert got[0].n_words == 3
    assert got[1].n_words == 3
    assert 2 not in got  # no words -> no row (join semantics)
    # n_tokens >= n_words (a word is at least one piece)
    assert got[0].n_tokens >= got[0].n_words


def test_viterbi_long_word_piece_count_never_wraps():
    """1,200 single-char pieces: the old ``cost*1000 + n_pieces``
    packing carried 1,000 of them into the cost."""
    from ocr_engine_spark.functions.unigram import viterbi
    c, n, pieces = viterbi("a" * 1200, {"a": 7}, 4)
    assert (c, n) == (7 * 1200, 1200) and pieces == ["a"] * 1200
    # ties still break toward fewer pieces at this length
    c2, n2, p2 = viterbi("a" * 1200, {"a": 7, "aa": 14}, 4)
    assert (c2, n2) == (7 * 1200, 600) and set(p2) == {"aa"}


def test_encode_unigram_unseen_char_adds_no_tokens(spark):
    """A word with a char outside the vocab is unsegmentable: it still
    counts as a word, and its ``-1`` sentinel never lowers n_tokens."""
    from ocr_engine_spark.functions.unigram import encode_unigram
    vocab = [("a", 10), ("b", 10), ("ab", 15)]
    rows = [(0, "ab ab"), (1, "ab qab"), (2, "q"), (3, "a" * 1200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_tokens)
           for r in encode_unigram(df, vocab).collect()}
    assert got == {0: (2, 2), 1: (2, 1), 2: (1, 0), 3: (1, 1200)}
