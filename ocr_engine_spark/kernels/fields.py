"""Structured field extraction — deterministic regex per field.

The Spark-native analog of the reference's LLM structured extraction
(``services/qwen/qwen_service.py:156-252``): the non-deterministic VLM
generate + ``json.loads`` is replaced by one regex per field of the
golden field set (``benchmark_output_ground_truth/
fields_ground_truth.json:11-151``) over the CLEANED extracted text, so
outputs are reproducible and exactly testable.

This module is the only field extractor. ``bill_row(text, url)`` is
called per doc inside the extraction job's one Arrow pass
(engine/extract_job.py:extract_batch_arrow), which emits its values as
the ``provider``, 13 field and ``raw_response`` columns;
``extract_fields`` is the same rule as a dict.

Value semantics are Java's ``regexp_extract`` + ``try_cast``: patterns
compile with ``re.ASCII`` (``\\d`` is [0-9], never another script's
digits), and a ``long`` past int64 is NULL, not an error — a hostile
page yields a success row with that field missing.

Provider detection mirrors the reference's filename-substring rule
(``services/qwen/qwen_service.py:260``): 'dewa' in url -> DEWA,
'sewa' -> SEWA, else Unknown.
"""

from __future__ import annotations

import re

# field -> (regex with one capture group, cast: string|long|double)
FIELD_PATTERNS: dict[str, tuple[str, str]] = {
    "account_number": (r"Account Number: (\d+)", "string"),
    "invoice_number": (r"Invoice Number: (\d+)", "string"),
    "bill_date": (r"Bill Date: (\d{2}/\d{2}/\d{4})", "string"),
    "billing_period": (
        r"Billing Period: (\d{2}/\d{2}/\d{4} to \d{2}/\d{2}/\d{4})", "string"),
    "total_amount": (r"Total Amount: [A-Z]{3} (\d+\.?\d*)", "double"),
    "currency": (r"Total Amount: ([A-Z]{3}) ", "string"),
    "electricity_kwh": (r"Electricity Consumption: (\d+) kWh", "long"),
    "water_m3": (r"Water Consumption: (\d+\.?\d*) m3", "double"),
    "carbon_kg_co2e": (r"Carbon Footprint: (\d+) kg CO2e", "long"),
    "meter_number": (r"Meter Number: ([A-Z0-9\-]+)", "string"),
    "current_reading": (r"Current Reading: (\d+)", "long"),
    "previous_reading": (r"Previous Reading: (\d+)", "long"),
    "vat_number": (r"VAT Registration Number: (\d+)", "string"),
}

_LITERAL_PREFIX_RE = re.compile(r"^[^\\\[\(\{\.\+\*\?\|\^\$]+")


def _needle(pattern: str) -> str:
    """The literal prefix every match of ``pattern`` contains ('Account
    Number: ' etc.). A literal whose last char is quantified (e.g.
    r'Fees?: ') is NOT implied by a match, so that char is dropped."""
    m = _LITERAL_PREFIX_RE.match(pattern)
    needle = m.group(0) if m else ""
    if needle and len(pattern) > len(needle) \
            and pattern[len(needle)] in "?*{":
        needle = needle[:-1]
    return needle


def _long(digits: str) -> int | None:
    """int64 of an ASCII digit run; None past int64 (Java's try_cast)."""
    sig = digits.lstrip("0") or "0"
    # length first: int() raises on strings of over 4,300 digits
    return int(sig) if len(sig) <= 19 and int(sig) < 1 << 63 else None


_CASTS = {"string": str, "long": _long, "double": float}

# each regex is guarded by a substring test on its literal prefix — a
# pure fast path: only the few bill-like docs pay the 13 regex scans
_COMPILED = [(_needle(p), re.compile(p, re.ASCII), _CASTS[t])
             for p, t in FIELD_PATTERNS.values()]


def detect_provider(url: str | None) -> str:
    """qwen_service.py:260 — filename-substring provider detection."""
    u = url.lower() if url is not None else ""
    if "dewa" in u:
        return "DEWA"
    if "sewa" in u:
        return "SEWA"
    return "Unknown"


def bill_row(text: str | None, url: str | None) -> tuple:
    """``(provider, *13 fields in FIELD_PATTERNS order, raw_response)``
    of one doc; a missed field is None.

    ``raw_response`` mirrors the reference's parse-failure fallback
    (``{"raw_response": raw_text}``, qwen_service.py:245-252): a
    provider-detected (bill-like) document on which every field missed
    keeps its full text; None otherwise (a non-bill page is never a
    parse *failure*, and carrying the text twice for every crawl page
    would double the sink)."""
    vals = []
    for needle, rx, cast in _COMPILED:
        m = rx.search(text) if text and needle in text else None
        vals.append(cast(m.group(1)) if m else None)
    provider = detect_provider(url)
    all_null = all(v is None for v in vals)
    raw = text if all_null and provider != "Unknown" else None
    return (provider, *vals, raw)


def extract_fields(text: str | None, url: str | None = None) -> dict:
    """The 13 fields of ``text`` by name (missing ones None); with a
    ``url``, also its ``raw_response`` (see ``bill_row``)."""
    row = bill_row(text, url)
    out = dict(zip(FIELD_PATTERNS, row[1:-1]))
    if url is not None:
        out["raw_response"] = row[-1]
    return out
