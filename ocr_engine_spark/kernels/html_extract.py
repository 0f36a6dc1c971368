"""HTML main-content extraction kernel (pure Python, stdlib only).

The Spark-native analog of the reference's OCR text-extraction stage
(``services/surya/surya_service.py:102-125``): where the reference runs a
vision model over an image and emits ordered text lines, we run a DOM
parse with Boilerpipe/trafilatura-style densitometric block scoring over
a Common-Crawl-style HTML payload and emit ordered main-content blocks
plus character-span offsets.

Deterministic, dependency-free (``html.parser``), and tolerant of
malformed markup: a failing document returns an error record instead of
raising (mirrors the reference's error-as-record discipline,
``surya_service.py:150-158``).

Pipeline (one document):
  1. charset sniff + decode     (analog of PIL decode, surya_service.py:102-104)
  2. DOM walk -> flat block list with per-block text/link char counts
  3. densitometric classification: boilerplate-ancestor pruning,
     link-density < LINK_DENSITY_MAX, word-count >= MIN_WORDS with a
     neighbor-rescue pass for short headings/list items
  4. block join with '\n' (analog of line assembly, surya_service.py:117-124)
     + char spans per block
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
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

_WS_RE = re.compile(r"\s+")
_CJK_RE = re.compile(r"[一-鿿]")
_TOKEN_SPLIT_RE = re.compile(r"[^0-9a-zA-Z]+")
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([A-Za-z0-9_\-]+)""", re.I)


@dataclass(slots=True)
class Block:
    """One candidate text block, in document order.

    ``text`` / ``word_units`` / ``link_density`` are computed once in
    ``_BlockParser._flush`` when the block is finalized (parts never
    change after that) — plain attributes, because the classifier and
    emitter probe them millions of times per batch and property-descriptor
    dispatch was ~15% of kernel time in tools/profile_kernels.py."""
    block_id: int
    kind: str                    # heading | para | list | table | other
    parts: list[str] = field(default_factory=list)
    link_chars: int = 0
    boilerplate: bool = False
    text: str = ""
    word_units: int = 0
    link_density: float = 0.0

    def finalize(self) -> bool:
        """Collapse parts -> text and precompute the densitometric
        stats; returns False for whitespace-only blocks (dropped)."""
        # == _WS_RE.sub(' ', x).strip(): str.split() splits on the
        # same unicode-whitespace runs, at C speed (hot: per block);
        # most blocks carry exactly one part — skip the inner join
        parts = self.parts
        t = " ".join((parts[0] if len(parts) == 1
                      else "".join(parts)).split())
        if not t:
            return False
        self.text = t
        # ASCII-ish words + CJK chars/2 (zh text has no spaces); text is
        # ' '.join(tokens) with no empty tokens by construction, so word
        # count == separator count + 1 (CJK scan skipped for ASCII text)
        words = t.count(" ") + 1
        cjk = 0 if t.isascii() else len(_CJK_RE.findall(t))
        self.word_units = words + cjk // 2
        self.link_density = self.link_chars / len(t)
        return True


class _BlockParser(HTMLParser):
    """Single-pass DOM walk producing the flat block list."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._cur: Block | None = None
        self._skip_depth = 0          # inside SKIP_TAGS subtree
        self._boiler_depth = 0        # inside boilerplate subtree
        self._link_depth = 0          # inside <a>
        self._kind_stack: list[str] = []
        self._boiler_tags: list[str] = []  # open tags that set boilerplate

    # -- helpers ---------------------------------------------------------
    def _flush(self) -> None:
        cur = self._cur
        if cur is not None:
            if cur.finalize():
                self.blocks.append(cur)
            self._cur = None

    def _block(self) -> Block:
        if self._cur is None:
            self._cur = Block(
                block_id=len(self.blocks),
                kind=self._kind_stack[-1] if self._kind_stack else "other",
                boilerplate=self._boiler_depth > 0,
            )
        return self._cur

    @staticmethod
    def _is_boiler_attrs(attrs: list[tuple[str, str | None]]) -> bool:
        for k, v in attrs:
            if k in ("class", "id", "role") and v:
                for tok in _TOKEN_SPLIT_RE.split(v.lower()):
                    if tok in BOILERPLATE_TOKENS:
                        return True
        return False

    @staticmethod
    def _kind_of(tag: str) -> str | None:
        return _KIND_MAP.get(tag)

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
            if tag in BOILERPLATE_TAGS or self._is_boiler_attrs(attrs):
                self._boiler_depth += 1
                self._boiler_tags.append(tag)
            k = _KIND_MAP.get(tag)
            if k:
                self._kind_stack.append(k)
        elif self._is_boiler_attrs(attrs):
            # inline boilerplate marker (e.g. <span class="ad">)
            self._boiler_depth += 1
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
            self._boiler_depth = max(0, self._boiler_depth - 1)

    def handle_startendtag(self, tag, attrs):
        if tag == "br":
            self._flush()

    def handle_data(self, data):
        if self._skip_depth or not data or data.isspace():
            return
        b = self._block()
        b.parts.append(data)
        if self._link_depth:
            b.link_chars += len(" ".join(data.split()))

    def close(self):
        super().close()
        self._flush()


class _FastBlockParser(_BlockParser):
    """Regex-scanner drop-in for the stdlib ``html.parser`` state machine
    (same callbacks, same Block output — A/B-tested against the stdlib
    path in tests/test_kernels.py). The stdlib parser costs ~60% of
    HTML-kernel time in per-character bookkeeping we never use (position
    tracking, incremental feeding, strict charref states); one compiled
    scan with entity-decode on text runs is ~2x faster and byte-identical
    on the golden corpus."""

    def feed(self, doc: str) -> None:  # type: ignore[override]
        unescape = _unescape
        handle_data = self.handle_data
        boiler_tags = self._boiler_tags
        interesting = _STATE_TAGS
        pos = 0
        n = len(doc)
        search = _MARKUP_RE.search
        while pos < n:
            m = search(doc, pos)
            if m is None:
                break
            start = m.start()
            if start > pos:
                data = doc[pos:start]
                if "&" in data:
                    data = unescape(data)
                handle_data(data)
            pos = m.end()
            # one C call for all four groups (vs 4 dict-keyed lookups)
            close, tag, rawattrs, selfclose = m.group(
                "close", "tag", "attrs", "selfclose")
            if tag is None:
                continue  # comment / doctype / PI — dropped
            name = tag.lower()
            if close:
                # inert inline close tags (span/b/em/...) touch no parser
                # state unless they close an inline boilerplate marker —
                # skipping both inert-tag callbacks is a measured ~10%
                # HTML-kernel win (pinned best-of-5 A/B)
                if name in interesting or (
                        boiler_tags and boiler_tags[-1] == name):
                    self.handle_endtag(name)
                continue
            rawattrs = rawattrs or ""
            # case-insensitive gate (CLASS="nav" must parse like the
            # stdlib path, which lowercases attr names)
            attrs = ([(a[0].lower(), a[1] or a[2] or a[3])
                      for a in _ATTR_RE.findall(rawattrs)]
                     if rawattrs and _ATTR_GATE_RE.search(rawattrs)
                     else [])
            if name not in interesting and not attrs:
                # inert inline start tag with no class/id/role payload:
                # handle_starttag would fall through every branch
                continue
            if selfclose:
                self.handle_startendtag(name, attrs)
                continue
            self.handle_starttag(name, attrs)
            if name in ("script", "style"):
                # CDATA content elements: raw text to the matching close
                # tag, never markup (html.parser CDATA_CONTENT_ELEMENTS)
                cm = _CDATA_CLOSE[name].search(doc, pos)
                if cm is None:
                    pos = n
                    self.handle_endtag(name)
                else:
                    pos = cm.end()
                    self.handle_endtag(name)
        if pos < n:
            data = doc[pos:]
            if "&" in data:
                data = unescape(data)
            handle_data(data)

    def close(self) -> None:  # no stdlib buffers to drain
        self._flush()


_MARKUP_RE = re.compile(
    r"<(?:"
    r"!--.*?(?:-->|$)"                      # comment
    r"|!\[CDATA\[.*?(?:\]\]>|$)"            # cdata
    r"|[!?][^>]*>"                          # doctype / PI
    r"|(?P<close>/)?(?P<tag>[a-zA-Z][a-zA-Z0-9:_.-]*)"
    r"(?P<attrs>(?:[^>\"']|\"[^\"]*\"|'[^']*')*?)"
    r"(?P<selfclose>/)?>"
    r")",
    re.S)
_ATTR_RE = re.compile(
    r"([a-zA-Z-]+)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))")
# only tags whose raw attr text could carry class/id/role pay the full
# attr parse (pure fast path: _is_boiler_attrs only reads those three)
_ATTR_GATE_RE = re.compile(r"class|id|role", re.I)
_CDATA_CLOSE = {t: re.compile(rf"</{t}(?:\s[^>]*)?>", re.I)
                for t in ("script", "style")}
# every tag that can change parser state in handle_starttag/endtag
# regardless of attrs; anything else with no class/id/role attrs is a
# provable no-op in both callbacks (the fast scanner's skip condition)
_STATE_TAGS = SKIP_TAGS | BLOCK_TAGS | {"a"}

from html import unescape as _unescape  # noqa: E402  (used in hot loop)


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


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """Densitometric content classification (Boilerpipe-style).

    Pass 1: a block is content if it is not under a boilerplate ancestor,
    its link density is < LINK_DENSITY_MAX and it has >= MIN_WORDS word
    units. Pass 2 (neighbor rescue): short non-boilerplate blocks
    (headings, list items, table cells) adjacent to a content block are
    promoted. Deterministic two-pass over document order.
    """
    n = len(blocks)
    ld_max = LINK_DENSITY_MAX
    content = [
        (not b.boilerplate)
        and b.link_density < ld_max
        and b.word_units >= MIN_WORDS
        for b in blocks
    ]
    rescued = list(content)
    for i, b in enumerate(blocks):
        if content[i] or b.boilerplate:
            continue
        if b.link_density >= ld_max:
            continue
        if b.word_units < NEIGHBOR_MIN_WORDS and b.kind != "heading":
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
        doc = sniff_decode(payload)
        parser = _FastBlockParser()
        parser.feed(doc)
        parser.close()
        keep = classify_blocks(parser.blocks)
        # block_id = index within the EMITTED text (span contract); the
        # DOM ordinal stays available as Block.block_id internally
        return assemble_blocks(
            [(b.text, b.kind, (1.0 - b.link_density)
              * min(1.0, b.word_units / (2.0 * MIN_WORDS)))
             for b, k in zip(parser.blocks, keep) if k], "\n")
    except Exception as exc:  # poison-row tolerance
        return error_record(str(exc))
