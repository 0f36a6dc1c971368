"""Frozen extraction fixture: run the PURE-PYTHON kernels over the
pages corpus (no Spark) and persist the results to parquet.

This is the independent leg of the flagship oracle: the Spark
``extraction_pipeline`` query runs the distributed job (Arrow kernel
stage, clean-text delta encoding, broadcast evaluation joins, grouped
summary) while the DuckDB oracle evaluates the SAME summary SQL over
this kernel-direct parquet — so any drift in the Spark plumbing (a
dropped row, a mangled delta-decode, a wrong join key) hash-mismatches
against the kernel ground truth, and any drift in the kernels breaks
the golden byte-identity suite. Deterministic end to end (seeded
corpus, pure kernels), so the file regenerates identically on demand.
"""

from __future__ import annotations

import os

FROZEN_NAME = "frozen_extractions.parquet"
FROZEN_CER_NAME = "frozen_cer.parquet"


def ensure_entry_fixture(corpus_dir: str, n_pages: int = 200,
                         seed: int = 42) -> str:
    """Idempotently materialize the flagship corpus (pages + goldens +
    degradations, via fixtures.gen_pages), the kernel-direct frozen
    extractions, AND independently-computed per-url CER values. Pure
    Python + pyarrow + duckdb — callable from oracle_sql() where no
    SparkSession exists."""
    from ocr_engine_spark.fixtures.gen_pages import write

    if not os.path.exists(os.path.join(corpus_dir, "pages.parquet")):
        write(corpus_dir, n_pages=n_pages, seed=seed)
    frozen = os.path.join(corpus_dir, FROZEN_NAME)
    if os.path.exists(frozen):
        # stale-cache guard: the fixture is gitignored and regenerates
        # deterministically — a cached file from before a schema widening
        # (e.g. the markdown column) must be rebuilt, not trusted
        import pyarrow.parquet as pq
        if "markdown" not in pq.read_schema(frozen).names:
            os.remove(frozen)
    if not os.path.exists(frozen):
        freeze_extractions(corpus_dir)
    if not os.path.exists(os.path.join(corpus_dir, FROZEN_CER_NAME)):
        freeze_cer(corpus_dir)
    if not os.path.exists(os.path.join(corpus_dir, FROZEN_ZLIB_NAME)):
        freeze_zlib(corpus_dir)
    return frozen


def freeze_extractions(corpus_dir: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_engine_spark.kernels.document import extract_document
    from ocr_engine_spark.kernels.markdown import render_markdown

    pages = pq.read_table(os.path.join(corpus_dir, "pages.parquet"),
                          columns=["url", "html"])
    kinds, texts, cleans, confs, statuses, markdowns = [], [], [], [], [], []
    for payload in pages.column("html").to_pylist():
        kind, res = extract_document(payload)
        kinds.append(kind)
        texts.append(res["text"])
        cleans.append(res["clean"])
        confs.append(res["confidence"])
        statuses.append(res["status"])
        markdowns.append(render_markdown(res["text"], res["spans"]))
    out = pa.table({
        "url": pages.column("url"),
        "payload_kind": pa.array(kinds, pa.string()),
        "extracted_text": pa.array(texts, pa.string()),
        "clean_text": pa.array(cleans, pa.string()),
        "confidence": pa.array(confs, pa.float64()),
        "status": pa.array(statuses, pa.string()),
        "markdown": pa.array(markdowns, pa.string()),
    })
    path = os.path.join(corpus_dir, FROZEN_NAME)
    pq.write_table(out, path, row_group_size=512)
    return path


def _char_levenshtein(a: str, b: str, con) -> int:
    """CHARACTER-level edit distance computed independently of Spark's
    JVM implementation. DuckDB's C levenshtein is BYTE-based, so the
    pair alphabet is first remapped to distinct single bytes (always
    possible here: each document pair uses far fewer than 128 distinct
    codepoints); a pure-Python DP is the fallback for wider alphabets."""
    if a == b:
        return 0
    alpha = sorted(set(a) | set(b))
    if len(alpha) <= 127 and con is not None:
        m = {c: chr(i + 1) for i, c in enumerate(alpha)}
        a2 = "".join(m[c] for c in a)
        b2 = "".join(m[c] for c in b)
        return con.execute("SELECT levenshtein(?, ?)", [a2, b2]).fetchone()[0]
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def freeze_cer(corpus_dir: str) -> str:
    """Per-url UNROUNDED CER mirroring engine/evaluate.cer_col exactly
    (empty-hypothesis override, empty-reference edge cases, whitespace
    normalization, char-level levenshtein * 100 / char-length) — an
    independent implementation the Spark query must match value-for-
    value after round(2). Rounding is left to the oracle SQL so both
    engines round the same double the same way."""
    import re

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    ext = pq.read_table(os.path.join(corpus_dir, FROZEN_NAME),
                        columns=["url", "clean_text"])
    gold = pq.read_table(
        os.path.join(corpus_dir, "golden_extractions.parquet"),
        columns=["url", "clean_text"])
    golden_clean = dict(zip(gold.column("url").to_pylist(),
                            gold.column("clean_text").to_pylist()))
    # ASCII-whitespace only: Java regex \s and RE2 \s are ASCII classes,
    # Python's is Unicode-wide — and str.strip() strips Unicode spaces
    # while Spark's trim/DuckDB's trim strip ' ' only
    ws = re.compile("[ \t\n\x0b\f\r]+")
    con = duckdb.connect()
    urls, cers = [], []
    for url, hyp_text in zip(ext.column("url").to_pylist(),
                             ext.column("clean_text").to_pylist()):
        base = re.sub(r"_degraded_\d+$", "", url)
        if base not in golden_clean:
            continue
        ref = golden_clean[base] or ""
        hyp = hyp_text or ""
        if hyp == "":
            cer = 100.0
        elif ref == "":
            cer = 100.0
        else:
            rn = ws.sub(" ", ref).strip(" ")
            hn = ws.sub(" ", hyp).strip(" ")
            if rn == hn:
                cer = 0.0
            elif len(rn) == 0:
                # whitespace-only reference, non-blank hypothesis:
                # cer_col's normalized-empty guard returns 100.0 (the
                # pre-guard expression divided by zero, which ANSI mode
                # would abort on); mirror that
                cer = 100.0
            else:
                cer = _char_levenshtein(rn, hn, con) / len(rn) * 100.0
        urls.append(url)
        cers.append(cer)
    out = pa.table({"url": pa.array(urls, pa.string()),
                    "cer_raw": pa.array(cers, pa.float64())})
    path = os.path.join(corpus_dir, FROZEN_CER_NAME)
    pq.write_table(out, path, row_group_size=512)
    return path


FROZEN_ZLIB_NAME = "frozen_zlib.parquet"


def freeze_zlib(corpus_dir: str, *, level: int = 6) -> str:
    """Pure-Python zlib twin for the compression-ratio signal: the
    compressed octet size of every frozen clean_text, computed with
    the same bundled CPython zlib the Arrow kernel calls — pins the
    Spark-side batching/NULL plumbing (and, within this container,
    every output byte of DEFLATE itself)."""
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    frozen = pq.read_table(os.path.join(corpus_dir, FROZEN_NAME),
                           columns=["url", "clean_text"])
    urls, sizes = [], []
    for url, txt in zip(frozen.column("url").to_pylist(),
                        frozen.column("clean_text").to_pylist()):
        urls.append(url)
        sizes.append(None if txt is None
                     else len(zlib.compress(txt.encode("utf-8"),
                                            level)))
    out = pa.table({"url": pa.array(urls, pa.string()),
                    "zlib_bytes": pa.array(sizes, pa.int64())})
    path = os.path.join(corpus_dir, FROZEN_ZLIB_NAME)
    pq.write_table(out, path, row_group_size=512)
    return path
