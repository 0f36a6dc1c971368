r"""Text post-processing kernel — the byte-identity contract.

Faithful re-implementation of the reference's 5-step cleanup pipeline
(reference: ``test/ocr_postprocessing.py:85-102``), applied to extracted
main text. The step ORDER and the exact per-step semantics are part of
the byte-identity contract with the golden fixtures — do not reorder,
"fix", or re-express these (see notes on known quirks below).

Steps (reference ``SuryaPostProcessor.process``):
  1. remove_html_tags            (ocr_postprocessing.py:43-48, patterns :20-32)
  2. fix_character_substitutions (ocr_postprocessing.py:50-55, map :12-17)
  3. apply_ocr_corrections       (ocr_postprocessing.py:57-62, map :35-41)
  4. fix_table_formatting        (ocr_postprocessing.py:74-83)
  5. normalize_whitespace        (ocr_postprocessing.py:64-72)

Known quirks reproduced verbatim (required for byte-identity):
  * ``'≈' -> '≈'`` is an identity mapping (no-op) — kept.
  * ``replace('DUBA', 'DUBAI')`` also rewrites an existing ``DUBAI`` to
    ``DUBAII`` (left-to-right scan) — kept.
  * whitespace normalization does a LINE-WISE rstrip
    (``'\n'.join(line.rstrip() ...)``, ocr_postprocessing.py:69), which is
    NOT the same as a global ``\s+$`` regex — kept line-wise.
"""

from __future__ import annotations

import re

# --- step tables (verbatim from the reference, same iteration order) ---

# ocr_postprocessing.py:12-17
CHAR_REPLACEMENTS: dict[str, str] = {
    "\u5b66": "",          # electricity-icon misrecognition (CJK char)
    "\u25a1": "",          # box symbols
    "\u2248": "\u2248",    # approximate symbol (identity; kept verbatim)
    "\uf0b7": "\u2022",    # bullet point (private-use char)
}

# ocr_postprocessing.py:20-32
TAG_PATTERNS: list[str] = [
    r"<b>|</b>",
    r"<math>|</math>",
    r"<sub>|</sub>",
    r"<sup>|</sup>",
    r"<i>|</i>",
    r"<u>|</u>",
    r"<strong>|</strong>",
    r"<em>|</em>",
    r"<span[^>]*>|</span>",
    r"<div[^>]*>|</div>",
    r"\\Box|\\square",
]

# ocr_postprocessing.py:35-41
OCR_CORRECTIONS: dict[str, str] = {
    "DUBA": "DUBAI",
    "127731ST": "1277315T",
    "E-5615T545": "E-56151545",
    "W-18A01172": "W-13A011272",
    "G-60353": "G-60399",
}

_TAG_RES = [re.compile(p) for p in TAG_PATTERNS]
_SPACE_TAB_RE = re.compile(r"[ \t]+")
_BLANK_LINES_RE = re.compile(r"\n\n+")
_KWH_BOX_RE = re.compile(r"(\d+)\s*kWh\s*□")
_KWH_MATH_RE = re.compile(r"(\d+)\s*kWh\s*<math>")
_DECIMAL_PAIR_RE = re.compile(r"(\d+)\.(\d+)\s+(\d+)\.(\d+)")


def remove_html_tags(text: str) -> str:
    """Step 1 — ocr_postprocessing.py:43-48. The guard is a pure
    fast path: every pattern needs '<' or '\\', so absent both the 11
    passes are identity (extracted web text rarely contains either)."""
    if "<" not in text and "\\" not in text:
        return text
    for rx in _TAG_RES:
        text = rx.sub("", text)
    return text


def fix_character_substitutions(text: str) -> str:
    """Step 2 — ocr_postprocessing.py:50-55."""
    for old, new in CHAR_REPLACEMENTS.items():
        text = text.replace(old, new)
    return text


def apply_ocr_corrections(text: str) -> str:
    """Step 3 — ocr_postprocessing.py:57-62 (insertion order matters)."""
    for err, corr in OCR_CORRECTIONS.items():
        text = text.replace(err, corr)
    return text


def fix_table_formatting(text: str) -> str:
    """Step 4 — ocr_postprocessing.py:74-83. Guards are pure fast
    paths: each pattern requires its literal ('kWh' / '.'), so skipping
    the scan when absent is output-identical."""
    if "kWh" in text:
        text = _KWH_BOX_RE.sub(r"\1 kWh", text)
        text = _KWH_MATH_RE.sub(r"\1 kWh", text)
    if "." in text:
        text = _DECIMAL_PAIR_RE.sub(r"\1.\2    \3.\4", text)
    return text


def normalize_whitespace(text: str) -> str:
    """Step 5 — ocr_postprocessing.py:64-72 (line-wise rstrip!).

    Guards are pure fast paths (profiled: the unguarded ``[ \t]+`` sub
    matched every single space and rewrote it to itself — ~50% of
    clean_text time for an identity transform):
      * ``[ \t]+ -> ' '`` only changes text containing a tab or a
        2+ run ('  '); single spaces map to themselves.
      * ``\n\n+ -> '\n\n'`` only changes text containing '\n\n\n'
        (a bare '\n\n' is already the replacement).
    """
    if "\t" in text or "  " in text:
        text = _SPACE_TAB_RE.sub(" ", text)
    text = "\n".join(line.rstrip() for line in text.split("\n"))
    if "\n\n\n" in text:
        text = _BLANK_LINES_RE.sub("\n\n", text)
    return text.strip()


def clean_text(text: str) -> str:
    """The full 5-step pipeline in reference order
    (ocr_postprocessing.py:85-102 / process_surya_output :105-108).
    Idempotent: ``clean_text(clean_text(x)) == clean_text(x)``
    (property-tested in tests/test_clean.py).
    """
    text = remove_html_tags(text)
    text = fix_character_substitutions(text)
    text = apply_ocr_corrections(text)
    text = fix_table_formatting(text)
    text = normalize_whitespace(text)
    return text
