"""Correctness checks, computed with pyarrow and plain Python only.

Nothing here calls into the program under test. The generator's golden
``raw_text`` and ``spans`` are built from known content blocks; its golden
``clean_text`` is produced by the clean kernel itself, so for the default
seed the benchmark also compares against digests pinned in
``digests.json``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
from collections import Counter, defaultdict

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")

FIELD_NAMES = ["account_number", "invoice_number", "bill_date",
               "billing_period", "total_amount", "currency",
               "electricity_kwh", "water_m3", "carbon_kg_co2e",
               "meter_number", "current_reading", "previous_reading",
               "vat_number"]


def digests(rows: list[dict]) -> dict[str, str]:
    """sha256 of sorted (url, clean_text) and of sorted (url, fields)."""
    rows = sorted(rows, key=lambda r: r["url"])
    clean = hashlib.sha256()
    fields = hashlib.sha256()
    for r in rows:
        clean.update(json.dumps([r["url"], r["clean_text"]]).encode())
        fields.update(json.dumps([r["url"]] + [r[f] for f in FIELD_NAMES])
                      .encode())
    return {"clean_text": clean.hexdigest(), "fields": fields.hexdigest()}


def pinned(key: str) -> dict | None:
    with open(DIGESTS) as fh:
        return json.load(fh).get(key)


def check_extractions(out_rows: list[dict], corpus: str,
                      pin_key: str | None) -> dict:
    """Extraction output against the generator's goldens.

    ``correct_frac``: golden urls whose ``extracted_text`` and ``spans``
    are byte-equal to the golden and whose ``clean_text`` equals the
    golden's. ``fields_match_frac``: golden field rows on which all 13
    fields match. ``failed_frac``: input docs without exactly one
    successful row. With ``pin_key`` the whole-table digests must also
    equal the pinned ones.
    """
    urls = pq.read_table(os.path.join(corpus, "pages.parquet"),
                         columns=["url"]).column("url").to_pylist()
    golden = pq.read_table(
        os.path.join(corpus, "golden_extractions.parquet")).to_pylist()
    gfields = pq.read_table(
        os.path.join(corpus, "golden_fields.parquet")).to_pylist()
    by_url = defaultdict(list)
    for r in out_rows:
        by_url[r["url"]].append(r)
    url_set = set(urls)
    failed = sum(1 for u in urls
                 if len(by_url.get(u, [])) != 1
                 or by_url[u][0]["status"] != "success")
    failed += sum(len(v) for u, v in by_url.items() if u not in url_set)
    ok = 0
    for g in golden:
        got = by_url.get(g["url"], [])
        if len(got) == 1 and got[0]["extracted_text"] == g["raw_text"] \
                and got[0]["spans"] == g["spans"] \
                and got[0]["clean_text"] == g["clean_text"]:
            ok += 1
    fields_ok = 0
    for g in gfields:
        got = by_url.get(g["url"], [])
        if len(got) == 1 and all(got[0][f] == g[f] for f in FIELD_NAMES):
            fields_ok += 1
    res = {
        "docs": len(urls),
        "correct_frac": ok / len(golden) if golden else 1.0,
        "fields_match_frac": fields_ok / len(gfields) if gfields else 1.0,
        "failed_frac": failed / len(urls),
        "n_failed": failed + (len(golden) - ok) + (len(gfields) - fields_ok),
    }
    res["digest_ok"] = True
    if pin_key is not None:
        want = pinned(pin_key)
        res["digest_ok"] = want is not None and digests(out_rows) == want
        if not res["digest_ok"]:
            res["n_failed"] += 1
    return res


# ---------------------------------------------------------------------------
# corpus operators
# ---------------------------------------------------------------------------

def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct lower-cased whitespace word n-grams."""
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if (a or b) else 0.0


def check_dedup(pairs: list[dict], docs: dict[str, str],
                degradations: list[dict], threshold: float) -> dict:
    """Every returned pair verifies at >= threshold, and every planted
    degraded-variant pair at >= threshold is returned."""
    sh = {}

    def s(u):
        if u not in sh:
            sh[u] = shingles(docs[u])
        return sh[u]
    bad = sum(1 for p in pairs
              if jaccard(s(p["id_a"]), s(p["id_b"])) < threshold - 1e-6)
    found = {(p["id_a"], p["id_b"]) for p in pairs}
    planted = missed = 0
    for d in degradations:
        a, b = sorted((d["source_url"], d["url"]))
        if a in docs and b in docs and \
                jaccard(s(a), s(b)) >= threshold + 1e-6:
            planted += 1
            missed += (a, b) not in found
    return {"pairs": len(pairs), "bad_pairs": bad, "planted": planted,
            "missed": missed, "ok": bad == 0 and missed == 0}


def check_hll(rows: list[dict], tokens_by_lang: dict[str, set],
              b: int) -> dict:
    """``n_exact`` equals an independent count, and the estimate lies
    within 4 standard errors (1.04 / sqrt(m)) of it."""
    bound = 4 * 1.04 / math.sqrt(1 << b)
    got = {r["lang"]: r for r in rows}
    bad = 0
    for lang, toks in tokens_by_lang.items():
        r = got.get(lang)
        if r is None or r["n_exact"] != len(toks) or \
                abs(r["estimate"] - len(toks)) > bound * len(toks):
            bad += 1
    bad += len(set(got) - set(tokens_by_lang))
    return {"groups": len(tokens_by_lang), "bad": bad, "ok": bad == 0}


WORD_SPLIT = re.compile(r"[^a-z0-9]+")


def check_lm(rows: list[dict], docs: dict[str, str]) -> dict:
    """One score row per doc with >= 2 word tokens, with its bigram count."""
    want = {}
    for u, t in docs.items():
        n = len([w for w in WORD_SPLIT.split(t.lower()) if w])
        if n >= 2:
            want[u] = n - 1
    got = {r["url"]: r["n_bigrams"] for r in rows}
    bad = sum(1 for u in set(want) | set(got) if want.get(u) != got.get(u))
    return {"scored": len(got), "bad": bad, "ok": bad == 0}


STOPWORDS_EN = {"the", "a", "of", "and", "to", "in", "is", "with", "for",
                "on"}
PUNCT = re.compile(r"[,.;:!?()\[\]\"']")


def quality_micro(text: str) -> tuple[int, int]:
    """(token count, floor(quality * 1e6 + 0.5)) by the documented
    length / stopword / punctuation / word-length formula."""
    toks = text.strip().split()
    n_tokens = len(toks)
    n_chars = len(text)
    n_stop = sum(1 for w in text.lower().strip().split()
                 if w in STOPWORDS_EN)
    n_punct = len(PUNCT.findall(text))
    safe_tokens = max(n_tokens, 1)
    safe_chars = max(n_chars, 1)
    stop_ratio = n_stop / safe_tokens
    punct_ratio = n_punct / safe_chars
    mean_wlen = (n_chars - (n_tokens - 1)) / safe_tokens
    q = (min(n_tokens / 50.0, 1.0) * 0.4
         + min(stop_ratio * 4.0, 1.0) * 0.3
         + (1.0 - min(punct_ratio * 8.0, 1.0)) * 0.2
         + (1.0 if 3.0 <= mean_wlen <= 10.0 else 0.0) * 0.1)
    return n_tokens, math.floor(q * 1e6 + 0.5)


def fingerprint(text: str) -> str:
    return hashlib.md5(" ".join(text.lower().split()).encode()).hexdigest()


def check_curation(rows: list[dict], docs: dict[str, str], *,
                   min_tokens: int, min_quality_micro: int,
                   n_per_lang: int) -> dict:
    """Gate passed, one doc per fingerprint, at most n_per_lang per lang."""
    bad = 0
    fps = Counter()
    for r in rows:
        n_tok, q = quality_micro(docs[r["doc_id"]])
        if n_tok < min_tokens or q < min_quality_micro \
                or r["n_tokens"] != n_tok:
            bad += 1
        fps[fingerprint(docs[r["doc_id"]])] += 1
    bad += sum(c - 1 for c in fps.values())
    per_lang = Counter(r["lang"] for r in rows)
    bad += sum(1 for c in per_lang.values() if c > n_per_lang)
    return {"sampled": len(rows), "bad": bad, "ok": bad == 0 and bool(rows)}


def read_table_dir(path: str) -> list[dict]:
    """Rows of every parquet file under ``path`` (hidden files skipped)."""
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files += [os.path.join(root, f) for f in names
                  if f.endswith(".parquet") and not f.startswith(".")]
    rows = []
    for f in sorted(files):
        rows += pq.read_table(f).to_pylist()
    return rows
