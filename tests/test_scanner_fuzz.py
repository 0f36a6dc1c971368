"""Property-based parity fuzz: the one-split scanner must agree with the
stdlib html.parser path on arbitrary WELL-FORMED markup (the golden
corpus covers realistic pages; this covers the space between), and
extract_html must never raise on arbitrary bytes (errors-are-data)."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

import ocr_engine_spark.kernels.html_extract as hx

TEXT = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_characters="<>&",  # markup built explicitly below
    ),
    min_size=0, max_size=40)

TAGS = ["p", "div", "span", "li", "ul", "h1", "h2", "em", "strong",
        "main", "nav", "footer", "aside", "td", "table", "blockquote"]
ATTRS = ["", ' class="content"', ' class="sidebar ad"', ' id="nav"',
         " class='x y'", ' role="navigation"', ' data-k="v"']
ENTITIES = ["&amp;", "&#32;", "&lt;", "&quot;", "&nbsp;", "&#x41;"]


@st.composite
def markup(draw, depth=0):
    n = draw(st.integers(0, 3 if depth < 3 else 0))
    parts = [draw(TEXT)]
    for _ in range(n):
        kind = draw(st.integers(0, 3))
        if kind == 0 and depth < 3:
            tag = draw(st.sampled_from(TAGS))
            attr = draw(st.sampled_from(ATTRS))
            inner = draw(markup(depth=depth + 1))
            parts.append(f"<{tag}{attr}>{inner}</{tag}>")
        elif kind == 1:
            parts.append(draw(st.sampled_from(ENTITIES)))
        elif kind == 2:
            parts.append(f"<!-- {draw(TEXT)} -->")
        else:
            parts.append("<br/>")
        parts.append(draw(TEXT))
    return "".join(parts)


def _reference_blocks(doc):
    p = hx._BlockParser()
    p.feed(doc)
    p.close()
    return [b[:4] for b in p.blocks]  # (text, kind, boilerplate, link_chars)


@settings(max_examples=200, deadline=None)
@given(markup())
# <br/> closes the open block even inside a skipped subtree
@example("<p>open text run<noscript>hidden<br/>gone</noscript>after</p>")
@example("one<script/>two</p>three")  # self-closing: no raw-text element
@example("<p>a<SCRIPT>var x = '<p>no</p>';</SCRIPT>b</p>")
@example("<p>a<script>x</script >b</p>")
@example("<p>kept<script>var s = '<p>swallowed';</p>never")  # unclosed
@example("<p>a<scriptx>b</scriptx>c</p>")
def test_scanner_parity_on_wellformed_markup(body):
    doc = f"<html><body>{body}</body></html>"
    assert [b[:4] for b in hx._scan_blocks(doc)] == _reference_blocks(doc)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_extract_html_never_raises(payload):
    res = hx.extract_html(payload)
    assert res["status"] in ("success", "error")
    if res["status"] == "success":
        assert res["text"] is not None
        assert len(res["spans"]) == res["n_blocks"]


# --- PDF kernel fuzz: malformed bytes are error RECORDS, never raises --


import random

from ocr_engine_spark.fixtures.gen_pages import make_pdf, make_pdf_blocks
from ocr_engine_spark.kernels import pdf_extract as px


def _contract(res):
    assert res["status"] in ("success", "error")
    if res["status"] == "success":
        assert res["text"] is not None
        assert len(res["spans"]) == res["n_blocks"]
    else:
        assert res["text"] is None and res["error"]


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=400))
def test_extract_pdf_never_raises_on_garbage(payload):
    _contract(px.extract_pdf(b"%PDF-1.4\n" + payload))


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_extract_pdf_never_raises_on_mutations(data):
    """Truncations / splices / byte flips of a REAL multi-page fixture
    PDF exercise the object scan, /Kids walk and content-stream parser
    far deeper than random bytes — the contract must hold anywhere."""
    rng = random.Random(7)
    doc = make_pdf(make_pdf_blocks(rng), rng)
    n = len(doc)
    cut = data.draw(st.integers(min_value=0, max_value=n))
    mode = data.draw(st.sampled_from(["truncate", "flip", "splice"]))
    if mode == "truncate":
        payload = doc[:cut]
    elif mode == "flip":
        b = data.draw(st.integers(min_value=0, max_value=255))
        payload = doc[:cut] + bytes([b]) + doc[cut + 1:]
    else:
        other = data.draw(st.binary(max_size=64))
        payload = doc[:cut] + other + doc[cut:]
    _contract(px.extract_pdf(payload))


# --- round-4 additions: url templating / lexicon / luhn fuzz --------------

@settings(max_examples=100, deadline=None)
@given(paths=st.lists(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=40), min_size=1, max_size=8))
@example(paths=["/cal/2024-1-2"])
@example(paths=["/p?sid=deadbeef42#frag?x=1"])
@example(paths=["/ab\x8599"])              # NEL in path (the r3 gate bug)
@example(paths=["/\u2028x?y=\u20299"])    # U+2028/U+2029 separators
def test_url_template_never_leaves_digits(spark, paths):
    import pyspark.sql.functions as F
    from ocr_engine_spark.functions.scrub import url_template_col
    rows = [(f"https://h.example{p}",) for p in paths]
    df = spark.createDataFrame(rows, ["url"])
    got = [r[0] for r in df.select(
        url_template_col(F.col("url")).alias("t")).collect()]
    for t in got:
        # digit runs always collapse to N; fragments never survive
        assert not any(c.isdigit() for c in t if ord(c) < 128), t
        assert "#" not in t, t


@settings(max_examples=100, deadline=None)
@given(body=st.text(alphabet=st.characters(min_codepoint=32,
                                           max_codepoint=126),
                    max_size=80))
@example(body="4111 1111 1111 1111")
@example(body="4111-1111-1111-1112")
@example(body="0" * 19)
@example(body="1" * 30)            # >19 digits: pattern never matches
def test_luhn_report_total_function(spark, body):
    from ocr_engine_spark.functions.scrub import luhn_card_report
    df = spark.createDataFrame([(0, body)], ["doc_id", "text"])
    rows = luhn_card_report(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert 0 <= r["n_valid"] <= r["n_candidates"]
