"""HTML main-content extraction kernel (pure Python, stdlib only).

The Spark-native analog of the reference's OCR text-extraction stage
(``services/surya/surya_service.py:102-125``): where the reference runs a
vision model over an image and emits ordered text lines, we run a DOM
parse with Boilerpipe/trafilatura-style densitometric block scoring over
a Common-Crawl-style HTML payload and emit ordered main-content blocks
plus character-span offsets.

Deterministic, dependency-free, and tolerant of malformed markup: a
failing document returns an error record instead of raising (mirrors the
reference's error-as-record discipline, ``surya_service.py:150-158``).

Pipeline (one document):
  1. charset sniff + decode     (analog of PIL decode, surya_service.py:102-104)
  2. DOM walk -> flat block list with per-block text/link char counts:
     ``_scan_blocks`` cuts the page into text runs and tags with one
     ``re.split`` and walks them as a flat state machine (the stdlib
     ``html.parser`` walk ``_BlockParser`` is the reference it is tested
     against)
  3. densitometric classification: boilerplate-ancestor pruning,
     link-density < LINK_DENSITY_MAX, word-count >= MIN_WORDS with a
     neighbor-rescue pass for short headings/list items
  4. block join with '\n' (analog of line assembly, surya_service.py:117-124)
     + char spans per block
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

from ocr_engine_spark.kernels import assemble_blocks, error_record

# --- tuning constants (fixed; part of the golden contract once frozen) ---
LINK_DENSITY_MAX = 0.33
MIN_WORDS = 8           # long-block threshold (word units)
NEIGHBOR_MIN_WORDS = 2  # short blocks rescued next to content need this many

# elements whose entire subtree is never content
SKIP_TAGS = frozenset({
    "script", "style", "noscript", "template", "head", "svg", "iframe",
    "button", "select", "option", "textarea", "object", "embed", "canvas",
})
# elements that are boilerplate containers by construction
BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside", "form"})
# class/id tokens that mark a subtree as boilerplate
BOILERPLATE_TOKENS = frozenset({
    "nav", "navbar", "menu", "footer", "header", "sidebar", "side",
    "ad", "ads", "advert", "advertisement", "banner", "cookie", "cookies",
    "comment", "comments", "share", "social", "breadcrumb", "breadcrumbs",
    "related", "promo", "popup", "modal", "widget", "pagination",
})
# block-level boundaries (flush the current text run)
BLOCK_TAGS = frozenset({
    "p", "div", "section", "article", "main", "body", "html",
    "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl", "dt", "dd",
    "td", "th", "tr", "table", "thead", "tbody", "tfoot",
    "blockquote", "pre", "figure", "figcaption", "br", "hr",
    "nav", "header", "footer", "aside", "form", "fieldset", "address",
})
HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_KIND_MAP = {**{h: "heading" for h in HEADING_TAGS}, "p": "para",
             "li": "list", "dt": "list", "dd": "list",
             "td": "table", "th": "table"}

_CJK_RE = re.compile(r"[一-鿿]")
_TOKEN_SPLIT_RE = re.compile(r"[^0-9a-zA-Z]+")
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.I)

# the raw text of a tag's attributes: quoted values may hold '>'
_ATTRS = r"""(?:[^>"']|"[^"]*"|'[^']*')*?"""


def _raw_text_element(name: str) -> str:
    """A whole ``<script>``/``<style>`` element: the start tag (ASCII
    name, any case, not self-closing), then raw text up to the first
    matching close tag (html.parser's CDATA content elements), or to the
    end of the page when it is never closed."""
    ascii_name = "".join(f"[{c}{c.upper()}]" for c in name)
    close = rf"(?i:/{name}(?:\s[^>]*)?>)"
    return (rf"{ascii_name}(?![a-zA-Z0-9:_.-]){_ATTRS}(?<!/)>"
            rf"[^<]*(?:<(?!{close})[^<]*)*(?:<{close})?")


# One token of markup. ``split`` returns the text runs between tokens
# interleaved with the four groups of each token; comments, doctypes,
# processing instructions, CDATA sections and whole script/style elements
# match with all four groups None (they never touch the walk's state: a
# script/style start and its close tag cancel out).
_TOKEN_RE = re.compile(
    r"<(?:"
    r"!--.*?(?:-->|$)"                      # comment
    r"|!\[CDATA\[.*?(?:\]\]>|$)"            # cdata
    r"|[!?][^>]*>"                          # doctype / PI
    rf"|{_raw_text_element('script')}"
    rf"|{_raw_text_element('style')}"
    r"|(/)?([a-zA-Z][a-zA-Z0-9:_.-]*)"      # close, tag
    rf"({_ATTRS})(/)?>"                     # attrs, selfclose
    r")",
    re.S)
_ATTR_RE = re.compile(
    r"([a-zA-Z-]+)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))")
# only tags whose raw attr text could carry class/id/role pay the full
# attr parse
_ATTR_GATE_RE = re.compile(r"class|id|role", re.I)


def _is_boiler_attrs(attrs) -> bool:
    """Does a ``(name, value)`` attr list mark its subtree as
    boilerplate (a class/id/role token in BOILERPLATE_TOKENS)?"""
    for k, v in attrs:
        if k in ("class", "id", "role") and v:
            for tok in _TOKEN_SPLIT_RE.split(v.lower()):
                if tok in BOILERPLATE_TOKENS:
                    return True
    return False


def _is_boiler_raw(raw: str) -> bool:
    """``_is_boiler_attrs`` of a tag's raw attribute text."""
    return bool(raw) and _ATTR_GATE_RE.search(raw) is not None and \
        _is_boiler_attrs((k.lower(), v1 or v2 or v3)
                         for k, v1, v2, v3 in _ATTR_RE.findall(raw))


def _finish_block(parts: list[str], kind: str, boilerplate: bool,
                  link_chars: int) -> tuple:
    """One block as ``(text, kind, boilerplate, link_chars, word_units,
    link_density)``: its text runs joined and whitespace-collapsed (never
    empty: a run that is all whitespace never opens or joins a block)."""
    # == re.sub(r'\s+', ' ', x).strip(): str.split() splits on the same
    # unicode-whitespace runs, at C speed; most blocks carry one part
    t = " ".join((parts[0] if len(parts) == 1 else "".join(parts)).split())
    # ASCII-ish words + CJK chars/2 (zh text has no spaces); t is
    # ' '.join(tokens) with no empty tokens, so word count == separator
    # count + 1 (CJK scan skipped for ASCII text)
    cjk = 0 if t.isascii() else len(_CJK_RE.findall(t))
    return (t, kind, boilerplate, link_chars, t.count(" ") + 1 + cjk // 2,
            link_chars / len(t))


def _scan_blocks(doc: str) -> list[tuple]:
    """The flat block list of a decoded page, in document order (see
    ``_finish_block`` for a block's fields).

    A text run opens a block (its kind is the innermost open
    heading/para/list/table element, its boilerplate flag whether a
    boilerplate element is open) or joins the open one; a block-level
    start or end tag, or a ``<br/>`` anywhere, closes it. Text inside
    SKIP_TAGS subtrees is dropped. Every piece of state is a local: one
    ``re.split`` and one loop per page, no call per token."""
    parts = _TOKEN_RE.split(doc)
    blocks: list[tuple] = []
    cur = None                  # text runs of the open block
    cur_kind, cur_boiler, cur_link = "other", False, 0
    skip = link = 0             # open SKIP_TAGS elements, open <a>
    kinds: list[str] = []       # open elements that set a block kind
    boiler_tags: list[str] = []  # open elements that set boilerplate
    parts += (None, None, None, None)  # no token after the last text run
    it = iter(parts)
    for text, close, tag, attrs, selfclose in zip(it, it, it, it, it):
        # the text run before the token
        if text and not skip:
            if "&" in text:
                text = unescape(text)
            if text and not text.isspace():
                if cur is None:
                    cur = [text]
                    cur_kind = kinds[-1] if kinds else "other"
                    cur_boiler = bool(boiler_tags)
                    cur_link = 0
                else:
                    cur.append(text)
                if link:
                    cur_link += len(" ".join(text.split()))
        if tag is None:
            continue
        name = tag.lower()
        flush = False
        if name in SKIP_TAGS:
            if close:
                if skip:
                    skip -= 1
            elif not selfclose:
                skip += 1
        elif close:
            if not skip:
                if name == "a" and link:
                    link -= 1
                if name in BLOCK_TAGS:
                    flush = True
                    if kinds and name in _KIND_MAP:
                        kinds.pop()
                if boiler_tags and boiler_tags[-1] == name:
                    boiler_tags.pop()
        elif selfclose:
            # no skip check: <br/> closes the open block even inside
            # a skipped subtree; any other self-closing tag is inert
            flush = name == "br"
        elif not skip:
            if name == "a":
                link += 1
            if name in BLOCK_TAGS:
                flush = True
                if name in BOILERPLATE_TAGS or _is_boiler_raw(attrs):
                    boiler_tags.append(name)
                k = _KIND_MAP.get(name)
                if k:
                    kinds.append(k)
            elif _is_boiler_raw(attrs):
                # inline boilerplate marker (e.g. <span class="ad">)
                boiler_tags.append(name)
        if flush and cur is not None:
            blocks.append(_finish_block(cur, cur_kind, cur_boiler, cur_link))
            cur = None
    if cur is not None:
        blocks.append(_finish_block(cur, cur_kind, cur_boiler, cur_link))
    return blocks


class _BlockParser(HTMLParser):
    """The stdlib ``html.parser`` walk producing the same block list as
    ``_scan_blocks``; kept as the reference the scanner is tested
    against (tests/test_kernels.py, tests/test_scanner_fuzz.py)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple] = []
        self._parts: list[str] | None = None  # text runs of the open block
        self._cur = ("other", False)  # (kind, boilerplate) of that block
        self._link_chars = 0
        self._skip_depth = 0          # inside SKIP_TAGS subtree
        self._link_depth = 0          # inside <a>
        self._kind_stack: list[str] = []
        self._boiler_tags: list[str] = []  # open tags that set boilerplate

    def _flush(self) -> None:
        if self._parts is not None:
            self.blocks.append(
                _finish_block(self._parts, *self._cur, self._link_chars))
            self._parts = None

    # -- HTMLParser callbacks ---------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._link_depth += 1
        if tag in BLOCK_TAGS:
            self._flush()
            if tag in BOILERPLATE_TAGS or _is_boiler_attrs(attrs):
                self._boiler_tags.append(tag)
            k = _KIND_MAP.get(tag)
            if k:
                self._kind_stack.append(k)
        elif _is_boiler_attrs(attrs):
            # inline boilerplate marker (e.g. <span class="ad">)
            self._boiler_tags.append(tag)

    def handle_endtag(self, tag):
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in BLOCK_TAGS:
            self._flush()
            if self._kind_stack and tag in _KIND_MAP:
                self._kind_stack.pop()
        if self._boiler_tags and self._boiler_tags[-1] == tag:
            self._boiler_tags.pop()

    def handle_startendtag(self, tag, attrs):
        if tag == "br":
            self._flush()

    def handle_data(self, data):
        if self._skip_depth or not data or data.isspace():
            return
        if self._parts is None:
            self._parts = []
            self._cur = (self._kind_stack[-1] if self._kind_stack
                         else "other", bool(self._boiler_tags))
            self._link_chars = 0
        self._parts.append(data)
        if self._link_depth:
            self._link_chars += len(" ".join(data.split()))

    def close(self):
        super().close()
        self._flush()


def sniff_decode(payload: bytes) -> str:
    """Charset sniff + decode (analog of the reference's PIL decode +
    RGBA->RGB normalization, surya_service.py:102-104)."""
    if payload.startswith(b"\xef\xbb\xbf"):
        return payload.decode("utf-8-sig", errors="replace")
    if payload.startswith((b"\xff\xfe", b"\xfe\xff")):
        return payload.decode("utf-16", errors="replace")
    m = _META_CHARSET_RE.search(payload[:2048])
    if m:
        enc = m.group(1).decode("ascii", "replace").lower()
        try:
            return payload.decode(enc, errors="replace")
        except LookupError:
            pass
    return payload.decode("utf-8", errors="replace")


def classify_blocks(blocks: list[tuple]) -> list[bool]:
    """Densitometric content classification (Boilerpipe-style) of
    ``_scan_blocks`` output.

    Pass 1: a block is content if it is not under a boilerplate ancestor,
    its link density is < LINK_DENSITY_MAX and it has >= MIN_WORDS word
    units. Pass 2 (neighbor rescue): short non-boilerplate blocks
    (headings, list items, table cells) adjacent to a content block are
    promoted. Deterministic two-pass over document order.
    """
    n = len(blocks)
    ld_max = LINK_DENSITY_MAX
    content = [not boiler and ld < ld_max and wu >= MIN_WORDS
               for _, _, boiler, _, wu, ld in blocks]
    rescued = list(content)
    for i, (_, kind, boiler, _, wu, ld) in enumerate(blocks):
        if content[i] or boiler:
            continue
        if ld >= ld_max:
            continue
        if wu < NEIGHBOR_MIN_WORDS and kind != "heading":
            continue
        prev_c = i > 0 and rescued[i - 1]   # cascades over short runs
        next_c = i + 1 < n and content[i + 1]
        if prev_c or next_c:
            rescued[i] = True
    return rescued


def extract_html(payload: bytes) -> dict:
    """Extract main text + spans from one HTML payload.

    Returns the kernels' record (``kernels.assemble_blocks``): one span
    per emitted block, blocks joined by a newline. A block's confidence
    score is the deterministic densitometric
    ``(1 - link_density) * min(1, word_units / (2*MIN_WORDS))`` — how
    decisively it passed classification.
    """
    try:
        blocks = _scan_blocks(sniff_decode(payload))
        keep = classify_blocks(blocks)
        return assemble_blocks(
            [(text, kind, (1.0 - ld) * min(1.0, wu / (2.0 * MIN_WORDS)))
             for (text, kind, _, _, wu, ld), k in zip(blocks, keep) if k],
            "\n")
    except Exception as exc:  # poison-row tolerance
        return error_record(str(exc))
