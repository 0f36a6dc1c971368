"""PDF layout-analysis kernel (pure Python, minimal uncompressed subset).

The pdfminer-style path of the extraction stage: where the reference OCRs
rasterized PDF pages (its golden multi-page PDFs join pages with the
``--- PAGE BREAK ---`` sentinel, ``benchmark_output_ground_truth/
raw_text_ground_truth.json:28``), we parse the PDF text layer directly:

  1. object scan: ``N 0 obj ... endobj`` table, /Pages kids order,
     page -> /Contents stream resolution (page ORDER comes from the
     /Kids array, not file byte order)
  2. content-stream parse: BT/ET text objects, Tf (font size),
     Td/TD/Tm positioning, Tj/TJ/' show-text operators with
     paren-escaped literal strings
  3. layout analysis: chars -> lines (y-band clustering by half the
     font size) -> reading-order sort (-y, then x) -> blocks (vertical
     gap > 1.8x leading splits a block)
  4. page texts joined with '\\n\\n--- PAGE BREAK ---\\n\\n' byte-exactly

Scope: uncompressed or FlateDecode (zlib) streams; literal ``(...)``
AND hex ``<...>`` show-text strings (PDF 32000 §7.3.4.2/§7.3.4.3,
hex bytes read as Latin-1 — CMap-mapped multi-byte text is out of
scope); PDF-1.5 object streams (``/Type /ObjStm``, §7.5.7) expanded so
page-tree dicts packed by post-2005 writers resolve — content streams
themselves can never live inside an ObjStm, so the text path is
unchanged. The deterministic fixture corpus emits the uncompressed
subset; real crawled PDFs near-universally use Flate + ObjStm.
Anything else degrades to an error record, never an exception
(errors-are-data, surya_service.py:150-158).
"""

from __future__ import annotations

import re
import zlib
from operator import itemgetter

from ocr_engine_spark.kernels import assemble_blocks, error_record

_BY_X = itemgetter(0)
_BY_Y = itemgetter(1)

PAGE_BREAK = "\n\n--- PAGE BREAK ---\n\n"

_OBJ_RE = re.compile(rb"(\d+)\s+\d+\s+obj(.*?)endobj", re.S)
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\n?endstream", re.S)
_PAGE_TYPE_RE = re.compile(rb"/Type\s*/Page\b")
_PAGES_TYPE_RE = re.compile(rb"/Type\s*/Pages\b")

# content-stream tokens we understand
_NUM = rb"[-+]?\d*\.?\d+"
_STR = rb"\((?:[^()\\]|\\.)*\)"
# hex string §7.3.4.3: whitespace allowed between digits; `<<` (dict
# open) can never match because the char after the first `<` must be a
# hex digit / whitespace and the string must close with a single `>`
_HEX = rb"<[0-9A-Fa-f \t\r\n]*>"
_TOK_RE = re.compile(
    _STR                          # literal string
    + rb"|" + _HEX                # hex string
    + rb"|/[A-Za-z0-9_.]+"        # name
    + rb"|" + _NUM                # number
    + rb"|[A-Za-z'\"*]+"          # operator
)

# Fast path: the two overwhelmingly common show sequences —
# ``a b c d e f Tm (s) Tj`` and ``dx dy Td/TD (s) Tj`` — matched whole,
# so one C-level match replaces ~9 Python token iterations. Anything
# else falls through to the generic token branch (the alternatives
# below the composites are _TOK_RE verbatim, groupless). Semantics are
# identical: Tm/Td consume the trailing two numbers and Tj clears the
# stack, so pending stack junk is discarded either way.
_FAST_RE = re.compile(
    rb"(?:" + _NUM + rb"\s+){4}(?P<tmx>" + _NUM + rb")\s+(?P<tmy>"
    + _NUM + rb")\s+Tm\s*(?P<tms>" + _STR + rb")\s*Tj"
    rb"|(?P<tdx>" + _NUM + rb")\s+(?P<tdy>" + _NUM
    + rb")\s+T[dD]\s*(?P<tds>" + _STR + rb")\s*Tj"
    rb"|" + _STR
    + rb"|" + _HEX
    + rb"|/[A-Za-z0-9_.]+"
    + rb"|" + _NUM
    + rb"|[A-Za-z'\"*]+"
)


_ESC_MAP = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08,
            0x66: 0x0C, 0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}


def _unescape_pdf_string(raw: bytes) -> str:
    """Decode a paren-delimited literal string body (PDF 32000 §7.3.4.2)."""
    if b"\\" not in raw:  # overwhelmingly common: no escapes at all
        return raw.decode("latin-1")
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == 0x5C and i + 1 < len(raw):  # backslash
            n = raw[i + 1]
            esc = _ESC_MAP
            if n in esc:
                out.append(esc[n]); i += 2; continue
            if 0x30 <= n <= 0x37:  # octal
                j = i + 1
                oct_digits = b""
                while j < len(raw) and len(oct_digits) < 3 and 0x30 <= raw[j] <= 0x37:
                    oct_digits += bytes([raw[j]]); j += 1
                out.append(int(oct_digits, 8) & 0xFF); i = j; continue
            out.append(n); i += 2; continue
        out.append(c); i += 1
    return out.decode("latin-1")


def _decode_hex_string(raw: bytes) -> str:
    """Decode a ``<...>`` hex string body (PDF 32000 §7.3.4.3):
    whitespace ignored, an odd trailing digit reads as if followed by
    0. A UTF-16BE BOM (FE FF) selects UTF-16BE per §7.9.2.2 (how
    post-2005 writers emit non-Latin text strings); otherwise bytes
    read as Latin-1 (font-CMap-mapped glyph text out of scope)."""
    digits = b"".join(raw.split())
    if len(digits) % 2:
        digits += b"0"
    data = bytes.fromhex(digits.decode("ascii"))
    if data[:2] == b"\xfe\xff":
        return data[2:].decode("utf-16-be", errors="replace")
    return data.decode("latin-1")


def _parse_content_stream(data: bytes) -> list[tuple[float, float, float, str]]:
    """Yield (x, y, font_size, text) for each show-text op."""
    shows: list[tuple[float, float, float, str]] = []
    x = y = 0.0          # current text position
    lx = ly = 0.0        # line start (Td/TD are relative to line start)
    size = 12.0
    stack: list = []
    append = stack.append
    shows_append = shows.append
    unescape = _unescape_pdf_string
    for m in _FAST_RE.finditer(data):
        li = m.lastindex
        if li:  # composite Tm/Td + show fast path
            if li == 3:  # Tm form: groups (tmx, tmy, tms) = 1, 2, 3
                gx, gy, tms = m.group(1, 2, 3)
                lx = float(gx); ly = float(gy)
            else:        # Td form: groups (tdx, tdy, tds) = 4, 5, 6
                gx, gy, tms = m.group(4, 5, 6)
                lx += float(gx); ly += float(gy)
            x, y = lx, ly
            body = tms[1:-1]
            # inlined _unescape fast path (no escapes = plain decode)
            t = (body.decode("latin-1") if 0x5C not in body
                 else unescape(body))
            shows_append((x, y, size, t))
            x += len(t) * size * 0.5
            if stack:
                stack.clear()
            continue
        tok = m.group(0)
        # branch on the first byte: the _TOK_RE alternatives are disjoint
        # by first char — '(' = literal string, '/' = name, digit/-+./ =
        # number (the operator class has none of those), rest = operator
        c = tok[0]
        if c == 0x28:  # '('
            append(_unescape_pdf_string(tok[1:-1]))
        elif c == 0x3C:  # '<' hex string
            append(_decode_hex_string(tok[1:-1]))
        elif c == 0x2F:  # '/'
            append(tok)
        elif 0x30 <= c <= 0x39 or c == 0x2D or c == 0x2B or c == 0x2E:
            try:
                append(float(tok))
            except ValueError:
                append(tok)
        else:
            op = tok
            if op == b"Tf" and len(stack) >= 1 and isinstance(stack[-1], float):
                size = stack[-1]
            elif op in (b"Td", b"TD") and len(stack) >= 2:
                try:
                    lx += float(stack[-2]); ly += float(stack[-1])
                    x, y = lx, ly
                except (TypeError, ValueError):
                    pass
            elif op == b"Tm" and len(stack) >= 6:
                try:
                    lx, ly = float(stack[-2]), float(stack[-1])
                    x, y = lx, ly
                except (TypeError, ValueError):
                    pass
            elif op == b"T*":
                ly -= size * 1.2
                x, y = lx, ly
            elif op in (b"Tj", b"'") and stack and isinstance(stack[-1], str):
                if op == b"'":
                    ly -= size * 1.2
                    x, y = lx, ly
                shows.append((x, y, size, stack[-1]))
                x += len(stack[-1]) * size * 0.5
            elif op == b"TJ":
                # array form: strings already on the stack (numbers = kerning)
                texts = [s for s in stack if isinstance(s, str)]
                if texts:
                    t = "".join(texts)
                    shows.append((x, y, size, t))
                    x += len(t) * size * 0.5
            stack.clear()
    return shows


def _layout(shows: list[tuple[float, float, float, str]]) -> str:
    """Chars/runs -> lines -> reading order -> blocks -> page text."""
    if not shows:
        return ""
    # 1. cluster into lines by y-band (tolerance = half median font size).
    # Sort by y desc first, then band adjacent runs against the band
    # anchor: O(n log n) instead of scanning every existing line per show
    # (real pages have hundreds of lines -> the naive scan is quadratic).
    # Line spacing is always >> tol, so anchor-banding groups exactly the
    # same runs; ties keep stream order (stable sort).
    med_size = sorted(s[2] for s in shows)[len(shows) // 2]
    tol = max(med_size * 0.5, 1.0)
    lines: list[tuple[float, float, list]] = []  # (y, size, items:[(x, text)])
    cur_y = None
    cur_items: list = []
    # sorted(..., reverse=True) is stable: ties keep stream order, same
    # as the previous key=-y form
    for x, y, size, text in sorted(shows, key=_BY_Y, reverse=True):
        if cur_y is None or cur_y - y > tol or y - cur_y > tol:
            cur_items = []
            lines.append((y, size, cur_items))
            cur_y = y
        cur_items.append((x, text))
    # 2. reading order: top-to-bottom (-y) already established by the
    # sort; left-to-right within line below
    line_texts: list[tuple[float, float, str]] = []
    for ly, lsize, items in lines:
        items.sort(key=_BY_X)
        line_texts.append(
            (ly, lsize, " ".join([t for _, t in items]).strip()))
    # 3. blocks: vertical gap > 1.8x leading starts a new block
    blocks: list[list[str]] = [[]]
    prev_y = None
    for y, size, text in line_texts:
        leading = size * 1.2
        if prev_y is not None and (prev_y - y) > 1.8 * leading:
            blocks.append([])
        blocks[-1].append(text)
        prev_y = y
    return "\n".join("\n".join(b) for b in blocks if b)


_FLATE_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/FlateDecode\b")


def _resolve_stream(obj_body: bytes) -> bytes:
    """stream...endstream bytes of one object, FlateDecode-expanded.

    Real-world PDFs near-universally compress content streams
    (``/Filter /FlateDecode``, PDF 32000 §7.4.4 = raw zlib/deflate);
    the deterministic fixtures stay uncompressed. decompressobj (not
    zlib.decompress) tolerates trailing bytes the lazy ``endstream``
    match may leave. A corrupt stream raises -> the whole document
    becomes one error record (errors-are-data, surya_service.py:150-158).
    """
    sm = _STREAM_RE.search(obj_body)
    if not sm:
        return b""
    data = sm.group(1)
    if _FLATE_RE.search(obj_body[:sm.start()]):
        data = zlib.decompressobj().decompress(data)
    return data


_OBJSTM_TYPE_RE = re.compile(rb"/Type\s*/ObjStm\b")
_OBJSTM_N_RE = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RE = re.compile(rb"/First\s+(\d+)")


def _expand_object_streams(objs: dict[int, bytes]) -> None:
    """Unpack PDF-1.5 object streams (§7.5.7) into ``objs`` in place.

    An ObjStm's decoded stream starts with ``/N`` pairs of
    ``objnum offset`` integers; each embedded object's body runs from
    ``/First + offset`` to the next offset (dicts only — the spec
    forbids streams inside an ObjStm, so page CONTENT streams always
    stay directly scannable and only page-tree/catalog dicts arrive
    here). Direct ``N 0 obj`` definitions win over packed ones
    (setdefault), matching incremental-update precedence for the
    common writer layout."""
    for body in list(objs.values()):
        if not _OBJSTM_TYPE_RE.search(body):
            continue
        nm = _OBJSTM_N_RE.search(body)
        fm = _OBJSTM_FIRST_RE.search(body)
        if not nm or not fm:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        data = _resolve_stream(body)
        header = data[:first].split()
        if len(header) < 2 * n:
            continue
        pairs = [(int(header[2 * i]), int(header[2 * i + 1]))
                 for i in range(n)]
        for i, (oid, off) in enumerate(pairs):
            end = pairs[i + 1][1] if i + 1 < n else len(data) - first
            objs.setdefault(oid, data[first + off:first + end])


def extract_pdf(payload: bytes) -> dict:
    """Extract text + spans from one PDF payload.

    Returns the kernels' record (``kernels.assemble_blocks``) with one
    span of kind='page' per page; multi-page documents join page texts
    with the PAGE_BREAK sentinel byte-exactly
    (raw_text_ground_truth.json:28).
    """
    try:
        objs: dict[int, bytes] = {
            int(m.group(1)): m.group(2) for m in _OBJ_RE.finditer(payload)
        }
        if b"/ObjStm" in payload:  # cheap gate: §7.5.7 packed dicts
            _expand_object_streams(objs)
        # page order from the /Pages /Kids array (NOT file byte order)
        page_ids: list[int] = []
        for body in objs.values():
            if _PAGES_TYPE_RE.search(body):
                km = _KIDS_RE.search(body)
                if km:
                    page_ids = [int(r.group(1)) for r in _REF_RE.finditer(km.group(1))]
                break
        if not page_ids:  # fallback: /Type /Page objects in id order
            page_ids = sorted(
                oid for oid, body in objs.items() if _PAGE_TYPE_RE.search(body))
        page_texts: list[str] = []
        for pid in page_ids:
            body = objs.get(pid, b"")
            cm = _CONTENTS_RE.search(body)
            if cm and int(cm.group(1)) in objs:
                stream = _resolve_stream(objs[int(cm.group(1))])
            else:  # inline contents stream on the page object
                stream = _resolve_stream(body)
            page_texts.append(_layout(_parse_content_stream(stream)))
        # layout confidence (T4 analog, surya_service.py:119-127): a page
        # whose stream yielded several clustered lines parsed decisively;
        # empty/one-line pages score low
        return assemble_blocks(
            [(pt, "page", min(1.0, (pt.count("\n") + 1 if pt else 0) / 8.0))
             for pt in page_texts], PAGE_BREAK)
    except Exception as exc:
        return error_record(str(exc))
