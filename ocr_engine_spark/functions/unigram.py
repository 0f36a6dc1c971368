"""SentencePiece-style unigram-LM tokenizer (Kudo 2018), hard-EM.

BPE (functions/bpe.py) grows a vocab bottom-up by merging; the unigram
LM starts from an over-complete substring seed vocabulary and keeps
the pieces a Viterbi segmentation actually uses — the tokenizer family
behind SentencePiece/T5/Llama. This build is the deterministic hard-EM
variant: E-step = Viterbi-segment every DISTINCT word against the
current piece costs, M-step = re-estimate costs from usage counts.

Spark-first shape (the bpe.py discipline):

* training runs over the distinct-word table (``bpe.word_table`` —
  corpus bytes are touched once; everything after is
  O(|distinct words|));
* the seed piece counts are ONE JVM-side substring explode + groupBy
  (bounded by words x max_piece_len positions), never a Python loop
  over the corpus;
* the vocab is driver-bounded (``vocab_size`` rows, the PQ-codebook
  discipline) and ships in the Arrow kernel's closure; the Viterbi
  kernel is Arrow-batched over distinct words only;
* every M-step driver read is bounded by the vocab (used pieces are a
  subset of it).

Portability/determinism contract (the repo's micro-nat discipline):
piece costs are ``floor(-ln(count/total) * 1e6 + 0.5)`` integer
micro-nats computed by the SAME libm in both engines (Python
``math.log`` here, DuckDB ``ln`` in the oracle — one C library in
this container); the Viterbi objective is the single integer
``total_cost * (len(word) + 1) + n_pieces`` (n_pieces <= word length,
so the packing is collision-free at any length and orders exactly as
the oracle's ``* 1000`` packing for words under 1,000 chars),
minimized left-to-right with ties therefore broken toward FEWER
pieces; seed selection orders by
(count desc, piece asc). The ``unigram_segment`` oracle replays seed
construction and the unrolled DP verbatim.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ocr_engine_spark.functions.bpe import word_table

Vocab = list[tuple[str, int]]  # (piece, cost_micro_nats)

_UNREACHED = math.inf  # above every packed score, at any word length


def seed_piece_counts(words: DataFrame, *,
                      max_piece_len: int = 4) -> DataFrame:
    """(piece, cnt): every substring of length 1..max_piece_len of
    every distinct word, weighted by word frequency. One flatten +
    explode + groupBy — bounded by |words| x len x max_piece_len."""
    L = int(max_piece_len)
    subs = F.expr(
        f"flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(1, least({L}, length(word) - i + 1)), "
        f"k -> substr(word, i, k))))")
    return (words
            .select(F.explode(subs).alias("piece"),
                    F.col("wcount"))
            .groupBy("piece")
            .agg(F.sum("wcount").cast("long").alias("cnt")))


def _costs_from_counts(rows: list[tuple[str, int]]) -> Vocab:
    total = float(sum(c for _, c in rows))
    return [(p, int(math.floor(-math.log(c / total) * 1e6 + 0.5)))
            for p, c in rows]


def build_seed_vocab(df: DataFrame, *, vocab_size: int = 256,
                     max_piece_len: int = 4,
                     text_col: str = "text") -> Vocab:
    """Seed vocabulary: ALL single characters that occur (coverage —
    every word stays segmentable) plus the top multi-char substrings
    by (count desc, piece asc), ``vocab_size`` pieces in total, with
    integer micro-nat costs over the selected pieces' counts."""
    words = word_table(df, text_col=text_col)
    counts = seed_piece_counts(words, max_piece_len=max_piece_len)
    chars = sorted((r["piece"], int(r["cnt"])) for r in
                   counts.filter(F.length("piece") == 1).collect())
    assert vocab_size > len(chars), \
        f"vocab_size {vocab_size} <= {len(chars)} single chars"
    multi = [(r["piece"], int(r["cnt"])) for r in
             counts.filter(F.length("piece") > 1)
             .orderBy(F.col("cnt").desc(), F.col("piece").asc())
             .limit(vocab_size - len(chars)).collect()]
    return _costs_from_counts(chars + multi)


def viterbi(word: str, cost: dict[str, int],
            max_piece_len: int) -> tuple[int, int, list[str]]:
    """(total_cost_micro, n_pieces, pieces) minimizing the packed
    integer ``cost * (n + 1) + n_pieces`` for a word of n chars — the
    multiplier exceeds any piece count, so ties break toward fewer
    pieces at every length; an unsegmentable word (a char missing
    from the vocab) returns ``(-1, -1, [])``."""
    n = len(word)
    mult = n + 1
    best = [0] + [_UNREACHED] * n         # packed score per prefix
    back = [0] * (n + 1)                  # chosen piece length
    for j in range(1, n + 1):
        for k in range(1, min(max_piece_len, j) + 1):
            c = cost.get(word[j - k:j])
            if c is None or best[j - k] == _UNREACHED:
                continue
            cand = best[j - k] + c * mult + 1
            if cand < best[j]:
                best[j] = cand
                back[j] = k
    if best[n] == _UNREACHED:
        return -1, -1, []
    pieces: list[str] = []
    j = n
    while j > 0:
        k = back[j]
        pieces.append(word[j - k:j])
        j -= k
    pieces.reverse()
    return best[n] // mult, best[n] % mult, pieces


def segment_words(words: DataFrame, vocab: Vocab, *,
                  max_piece_len: int = 4) -> DataFrame:
    """words + (cost_micro, n_pieces, pieces): Arrow-batched Viterbi
    against the closure-shipped vocab."""
    from pyspark.sql.types import ArrayType, StringType
    cost = dict(vocab)
    L = int(max_piece_len)
    schema = StructType(list(words.schema.fields) + [
        StructField("cost_micro", LongType()),
        StructField("n_pieces", LongType()),
        StructField("pieces", ArrayType(StringType()))])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            cs, nps, ps = [], [], []
            for w in b["word"]:
                c, np_, pcs = viterbi(w, cost, L)
                cs.append(c)
                nps.append(np_)
                ps.append(pcs)
            out = b.copy()
            out["cost_micro"] = pd.array(cs, dtype="int64")
            out["n_pieces"] = pd.array(nps, dtype="int64")
            out["pieces"] = ps
            yield out

    return words.mapInPandas(kernel, schema)


def train_unigram(df: DataFrame, *, vocab_size: int = 256,
                  iters: int = 2, max_piece_len: int = 4,
                  text_col: str = "text") -> Vocab:
    """Hard-EM: segment all distinct words, recount piece usage
    (weighted by word frequency), re-derive costs, re-prune to
    ``vocab_size`` keeping every single char (count floored at 1 so
    coverage never dies). Each M-step driver read is bounded by the
    vocab."""
    vocab = build_seed_vocab(df, vocab_size=vocab_size,
                             max_piece_len=max_piece_len,
                             text_col=text_col)
    words = word_table(df, text_col=text_col)
    chars = {p for p, _ in vocab if len(p) == 1}
    for _ in range(int(iters)):
        seg = segment_words(words, vocab, max_piece_len=max_piece_len)
        used = (seg.select(F.explode("pieces").alias("piece"), "wcount")
                .groupBy("piece")
                .agg(F.sum("wcount").cast("long").alias("cnt"))
                .collect())  # bounded by vocab_size
        cnt = {r["piece"]: int(r["cnt"]) for r in used}
        rows = sorted(((p, max(cnt.get(p, 0), 1)) for p in chars))
        multi = sorted(((p, c) for p, c in cnt.items() if len(p) > 1),
                       key=lambda pc: (-pc[1], pc[0]))
        rows += multi[:vocab_size - len(rows)]
        vocab = _costs_from_counts(rows)
    return vocab


def encode_unigram(df: DataFrame, vocab: Vocab, *,
                   id_col: str = "doc_id", text_col: str = "text",
                   max_piece_len: int = 4) -> DataFrame:
    """(id, n_words, n_tokens): per-document unigram token counts —
    the fertility input. Distinct words segment ONCE; documents join
    the segmented side table on the word key (broadcast when small),
    corpus bytes are never re-scanned per piece. A word the vocab
    cannot segment (a char it never saw) counts in ``n_words`` and
    adds 0 to ``n_tokens``: the ``-1`` sentinel is floored at 0,
    never summed."""
    doc_words = (df
                 .select(F.col(id_col),
                         F.explode(F.split(F.lower(F.col(text_col)),
                                           "[^0-9a-z]+")).alias("word"))
                 .where(F.col("word") != ""))
    seg = segment_words(
        doc_words.select("word").distinct()
        .withColumn("wcount", F.lit(1).cast("long")),
        vocab, max_piece_len=max_piece_len).select("word", "n_pieces")
    return (doc_words.join(seg, "word")
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum(F.greatest("n_pieces", F.lit(0)))
                 .cast("long").alias("n_tokens")))
