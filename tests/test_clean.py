"""Byte-identity tests for the clean kernel vs the reference pipeline
(test/ocr_postprocessing.py) — including its quirks."""

import pytest
from hypothesis import given, settings, strategies as st

from ocr_engine_spark.kernels.clean import clean_text, normalize_whitespace

CASES = [
    ("", ""),
    ("plain text", "plain text"),
    ("<b>bold</b> and <i>it</i>", "bold and it"),
    ("<span class='x'>s</span><div id=y>d</div>", "sd"),
    ("a  \t b", "a b"),
    ("line one   \nline two\t\n\n\n\nline three", "line one\nline two\n\nline three"),
    ("DUBA", "DUBAI"),
    ("DUBAI", "DUBAII"),  # reference quirk: replace('DUBA','DUBAI') cascades
    ("127731ST", "1277315T"),
    ("250 kWh □ done", "250 kWh done"),
    # decimal-pair alignment inserts 4 spaces (step 4) which step 5 then
    # collapses back to one — reference quirk, reproduced faithfully
    ("12.34   56.78", "12.34 56.78"),
    ("学□ gone", "gone"),
    ("\\Box\\square x", "x"),
    ("  outer strip  ", "outer strip"),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_clean_cases(raw, expected):
    assert clean_text(raw) == expected


def test_matches_reference_implementation():
    """Run the actual reference post-processor side-by-side (reference
    repo is read-only but importable) on a corpus of tricky strings.
    Byte-identity without the reference tree stays covered by the golden
    and frozen-fixture tests."""
    import sys
    sys.path.insert(0, "/root/reference/test")
    try:
        from ocr_postprocessing import process_surya_output
    except ModuleNotFoundError as e:
        if e.name != "ocr_postprocessing":
            raise
        pytest.skip("reference post-processor ocr_postprocessing.py is "
                    "not on the reference path")

    tricky = [r for r, _ in CASES] + [
        "Hello <b>world</b>\n\n\n  spaced   out\t\ttabs  \nDUBAI DUBA □学\n"
        "123 kWh □ and 45.67   89.01\nE-5615T545 ≈ 5 W-18A01172 G-60353",
        "<span a=1 b=2>x</span> <div\nclass=y>z</div>",
        "multi\n\n \n\nblank gap", "a\nb \nc\t\nd", "1.2 3.4 5.6 7.8",
        "nested <b><i>tags</i></b> here",
    ]
    for s in tricky:
        assert clean_text(s) == process_surya_output(s), repr(s)


@given(st.text(alphabet=st.characters(codec="utf-8",
                                      exclude_categories=("Cs",)),
               max_size=400))
@settings(max_examples=200, deadline=None)
def test_idempotent(s):
    """clean(clean(x)) == clean(x) — the property that makes the clean
    stage safe to re-run on resume."""
    once = clean_text(s)
    assert clean_text(once) == once


def test_linewise_rstrip_not_global():
    # '\n'.join(line.rstrip()) keeps interior blank-line structure
    assert normalize_whitespace("a \n \nb") == "a\n\nb"
