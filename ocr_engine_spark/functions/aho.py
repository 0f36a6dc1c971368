"""Aho-Corasick multi-pattern lexicon scan — the 10^5-term scale path.

``scrub.lexicon_scan`` compiles each term to its own ``regexp_count``
chain: ideal at C4's ~400-word scale (codegen'd, zero UDF, zero
shuffle) but linear in TERM COUNT — measured (BENCH.md round 5): the
chain cannot even be PLANNED at 1,000 terms (the expression tree
raises ``java.lang.StackOverflowError`` in the analyzer), while this
automaton stays flat (~0.5 s over 5,000 sf0.1 docs at 6, 100, 1,000
and 5,000 terms alike) — the blocklist regime (UT1-class phrase
lists, brand-safety lexicons of 10^5+ terms) needs this path. Aho-Corasick (Aho & Corasick 1975) matches ALL terms in one
left-to-right pass over the characters: the automaton is built ONCE
driver-side (bounded by total lexicon characters, never by corpus),
ships inside the Arrow kernel's closure (the broadcast-variable
shape), and each document is scanned once regardless of term count —
O(doc chars + matches) per row.

Value parity contract: identical results to ``lexicon_scan`` for the
same lexicon — lowercase fold, ASCII ``\\b`` word boundaries
(word chars ``[a-z0-9_]`` post-fold), per-term independent
non-overlapping occurrence counts summed per category, same output
schema and integer ppm.
Asserted by tests AND by sharing lexicon_scan's DuckDB ORACLE
verbatim (``lexicon_ac``). Terms must start and end with word
characters (asserted at build) — the same restriction under which
``\\bterm\\b`` means what this module computes.

Per-row Python is confined to the Arrow-batched kernel (the
extraction/multimodal discipline); the automaton walk is dict-hop
per character. No shuffle anywhere — map-only, like the regexp chain
it replaces.

One divergence from the regexp chain, by choice: a NULL text yields
the zero row (0 hits, dropped=false) here, where the regexp chain
propagates NULL through its counts — empty and missing documents are
the same non-event to a lexicon gate.
"""

from __future__ import annotations

import re
from collections import deque
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType, LongType, StringType, StructField, StructType,
)

_WORD = frozenset("abcdefghijklmnopqrstuvwxyz0123456789_")
_SPLIT_WS = re.compile(r"\s+", re.ASCII)  # Java \s parity


def build_automaton(terms: list[str]):
    """(goto, fail, out, term_len) for the lowercased term list.
    ``out[s]`` lists every term id whose match ends at state ``s``
    (suffix outputs merged via fail links)."""
    goto: list[dict] = [{}]
    out: list[list[int]] = [[]]
    lens: list[int] = []
    for tid, term in enumerate(terms):
        t = term.lower()
        assert t and t[0] in _WORD and t[-1] in _WORD, \
            f"lexicon term must start/end with word chars: {term!r}"
        lens.append(len(t))
        s = 0
        for ch in t:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(tid)
    fail = [0] * len(goto)
    dq = deque(goto[0].values())
    while dq:
        r = dq.popleft()
        for ch, s in goto[r].items():
            dq.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            cand = goto[f].get(ch, 0)
            fail[s] = cand if cand != s else 0
            out[s].extend(out[fail[s]])
    return goto, fail, out, lens


def scan_counts(text: str, goto, fail, out, lens,
                cat_of: list[int], n_cats: int) -> list[int]:
    """Per-category whole-word occurrence counts in one pass. Each
    term counts NON-OVERLAPPING matches, leftmost first, as
    ``regexp_count`` does: a match that starts before the end of the
    same term's last counted match is skipped (``'a b a'`` occurs once
    in ``'a b a b a'``, not twice)."""
    counts = [0] * n_cats
    last_end = [0] * len(lens)  # per term: end of its last counted match
    t = text.lower()
    n = len(t)
    s = 0
    for i, ch in enumerate(t):
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        if out[s] and (i + 1 >= n or t[i + 1] not in _WORD):
            for tid in out[s]:
                st = i + 1 - lens[tid]
                if st >= last_end[tid] and (st == 0
                                            or t[st - 1] not in _WORD):
                    counts[cat_of[tid]] += 1
                    last_end[tid] = i + 1
    return counts


def _token_count(text: str) -> int:
    """Python twin of text.token_count_col (trim spaces, ASCII \\s+
    split, blank -> 0)."""
    t = text.strip(" ")
    return 0 if not t else len(_SPLIT_WS.split(t))


def lexicon_scan_ac(df: DataFrame, lexicon: dict[str, list[str]], *,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Drop-in ``lexicon_scan`` twin backed by Aho-Corasick: same
    schema (id, n_tokens, {cat}_hits..., total_hits, dropped,
    hit_ppm), same values, one automaton pass per document instead of
    one regexp pass per term."""
    cats = sorted(lexicon)
    terms: list[str] = []
    cat_of: list[int] = []
    for ci, cat in enumerate(cats):
        for w in lexicon[cat]:
            terms.append(w)
            cat_of.append(ci)
    goto, fail, out, lens = build_automaton(terms)
    n_cats = len(cats)

    schema = StructType(
        [StructField(id_col, LongType()),
         StructField("n_tokens", LongType())]
        + [StructField(f"{c}_hits", LongType()) for c in cats]
        + [StructField("total_hits", LongType()),
           StructField("dropped", BooleanType()),
           StructField("hit_ppm", LongType())])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for did, text in zip(b[id_col], b[text_col]):
                text = text if isinstance(text, str) else ""
                counts = scan_counts(text, goto, fail, out, lens,
                                     cat_of, n_cats)
                ntok = _token_count(text)
                total = sum(counts)
                rows.append((int(did), ntok, *counts, total, total >= 1,
                             total * 1_000_000 // max(ntok, 1)))
            yield pd.DataFrame(rows, columns=[f.name for f in schema])

    return df.select(id_col, text_col).mapInPandas(kernel, schema)
