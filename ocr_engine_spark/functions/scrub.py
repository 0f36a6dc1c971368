r"""Corpus-cleaning operators for training-data pipelines: PII
scrubbing, cross-document frequent-line (boilerplate) pruning, and URL
canonicalization / host skew reporting.

All pure JVM expressions (regexp_replace / explode / groupBy) — these
run over every document of a 100 TB corpus, so no Python anywhere.
Every regex is RE2-compatible (no lookarounds, no backrefs) so the
DuckDB oracles run the IDENTICAL patterns.

Reference points (public corpus-cleaning practice): C4/CCNet-style
line-level boilerplate removal by cross-document line frequency,
Gopher-style repetition signals (functions/text.py), standard PII
redaction-by-pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ocr_engine_spark.functions.generate import (
    explode_nonull, posexplode_nonull,
)
from ocr_engine_spark.functions.portability import portable_or_null

# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# ordered pattern table: (token, RE2+Java-compatible pattern). Email
# runs FIRST so phone-like digit runs inside addresses are gone before
# the phone pass; the order is part of the contract.
PII_PATTERNS: list[tuple[str, str]] = [
    ("<EMAIL>", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("<IP>", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("<PHONE>", r"\+?\d[\d().-]{7,14}\d"),
]


def scrub_pii_col(c: Column) -> Column:
    """Redact emails / IPv4s / phone-like digit runs with typed tokens,
    in the documented order."""
    out = c
    for token, pattern in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_counts_cols(c: Column) -> list[Column]:
    """Per-document redaction counts, one column per pattern — counted
    on the PROGRESSIVELY-SCRUBBED text (each pattern sees the previous
    redactions applied), so the counts equal the tokens scrub_pii_col
    actually emits: an IPv4 is n_ips=1 and NOT also a phone, because
    the phone pass never sees its digits."""
    names = {"<EMAIL>": "n_emails", "<IP>": "n_ips", "<PHONE>": "n_phones"}
    cols = []
    cur = c
    for token, pattern in PII_PATTERNS:
        cols.append(F.regexp_count(cur, F.lit(pattern)).cast("long")
                    .alias(names[token]))
        cur = F.regexp_replace(cur, pattern, token)
    return cols


# ---------------------------------------------------------------------------
# cross-document frequent-line pruning (CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------

def prune_frequent_lines(df: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text",
                         min_docs: int = 2,
                         out_col: str = "pruned_text") -> DataFrame:
    """Remove every line that occurs (byte-identically) in >= min_docs
    DISTINCT documents — the classic cross-document boilerplate filter
    (cookie banners, nav footers) of C4/CCNet-family pipelines.

    Plan shape: posexplode lines -> one shuffle on the line value for
    document frequencies -> join back (frequent lines ≪ distinct lines,
    so the frequency side broadcasts in practice) -> reassemble in
    original order with a sort_array over collected (pos, line) structs
    (one groupBy shuffle on the doc id). Blank lines never count toward
    frequency and are always kept. A document whose every line is
    pruned keeps an empty string."""
    lines = posexplode_nonull(df, F.split(F.col(text_col), "\n"),
                              "__pos", "__line",
                              F.col(id_col).alias("__id"))
    freq = (lines.filter(F.trim("__line") != "")
            .groupBy("__line")
            .agg(F.countDistinct("__id").alias("__df"))
            .filter(F.col("__df") >= min_docs))
    kept = (lines.join(freq, "__line", "left_anti"))
    rebuilt = (kept.groupBy("__id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct(F.col("__pos"), F.col("__line")))),
                       lambda s: s["__line"]),
                   "\n").alias(out_col)))
    return df.join(rebuilt, df[id_col] == rebuilt["__id"], "left") \
             .drop("__id") \
             .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))


# ---------------------------------------------------------------------------
# URL canonicalization + host skew report
# ---------------------------------------------------------------------------

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"


def host_col(url: Column) -> Column:
    """Lowercased host (authority) of a URL; empty string if no scheme
    prefix parses."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


# the RFC 3986 §2.3 unreserved set: percent-escapes of these decode to
# the same resource on every conforming server, so decoding them can
# never over-merge
_UNRESERVED = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
               "abcdefghijklmnopqrstuvwxyz0123456789-._~")


def canonical_url_col(url: Column, *, strip_www: bool = False,
                      strip_default_port: bool = False,
                      decode_unreserved: bool = False) -> Column:
    """Deterministic URL canonicalization for crawl keys: lowercase the
    scheme+host, drop the fragment, drop a trailing PATH slash (never a
    slash that ends a query-string value — query content is semantic,
    which is also why parameters are not reordered). Inputs without a
    scheme pass through unchanged (they are not URLs; collapsing them
    all to one key would merge unrelated rows).

    The DEFAULT is deliberately conservative — it never merges two urls
    a server could distinguish. Three opt-in flags merge harder for
    crawl-dedup use (each is still standards-safe for ~all real hosts,
    but strictly speaking can over-merge, so they are opt-in):

      * ``strip_www``: drop one leading ``www.`` label from the host;
      * ``strip_default_port``: drop ``:80`` on http and ``:443`` on
        https (the scheme-default ports, RFC 3986 §6.2.3);
      * ``decode_unreserved``: decode %-escapes of RFC 3986 §2.3
        unreserved chars (``%41``->``A`` etc.) — conforming servers
        treat those as identical (§6.2.2.2); reserved escapes like
        %2F stay encoded because decoding them changes the path.
    """
    no_frag = F.regexp_replace(url, r"#.*$", "")
    authority = F.lower(F.regexp_extract(
        no_frag, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1))
    if strip_default_port:
        authority = F.regexp_replace(authority, r"^(http://[^/:?#]+):80$",
                                     "$1")
        authority = F.regexp_replace(authority, r"^(https://[^/:?#]+):443$",
                                     "$1")
    if strip_www:
        # only when at least one dotted label remains: www.example.com
        # -> example.com, but the registrable domain www.com stays
        authority = F.regexp_replace(
            authority, r"^([a-z][a-z0-9+.-]*://)www\.(?=[^./:?#]+\.)", "$1")
    rest = F.regexp_extract(no_frag,
                            r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1)
    if decode_unreserved:
        # 62+4 literal replaces, all codegen'd JVM string ops: decode
        # both hex cases of every unreserved char (%-escapes are
        # case-insensitive, RFC 3986 §2.1)
        for ch in _UNRESERVED:
            for esc in {f"%{ord(ch):02X}", f"%{ord(ch):02x}"}:
                rest = F.replace(rest, F.lit(esc), F.lit(ch))
    lowered = F.concat(authority, rest)
    # strip '/' only at the end of the PATH (no '?' anywhere after it)
    stripped = F.regexp_replace(lowered, r"/$", "")
    return (F.when(host_col(url) == "", url)
            .when(no_frag.contains("?"), lowered)
            .otherwise(stripped))


def registrable_host_col(url: Column) -> Column:
    """Host with userinfo and port stripped — the part domain
    blocklists key on. DuckDB twin: two regexp_replace over the
    host_col extraction."""
    h = host_col(url)
    return F.regexp_replace(F.regexp_replace(h, "^[^@]*@", ""),
                            ":[0-9]+$", "")


def url_features(pages: DataFrame, *, url_col: str = "url") -> DataFrame:
    """(url, host, path_depth, path_len, n_params, digit_frac_micro,
    ext, is_homepage, has_tracker) — the URL-level features a
    webtext pipeline filters and routes on BEFORE fetching or parsing
    a byte of content (the C4/FineWeb URL-filter motif: deep
    calendar/archive paths, digit-heavy ids, tracker-laden
    campaign urls and binary extensions are all cheap drop signals).

    Pinned, SQL-replayable definitions (DuckDB oracle twin):

      * path = everything after the authority up to ``?``/``#``,
        ``'/'`` when empty; ``path_depth`` counts non-empty ``/``
        segments; ``path_len`` its octet length;
      * ``n_params`` = 0 without a query, else 1 + the number of
        ``&`` separators (empty values still count — they are
        separators, not semantics);
      * ``digit_frac_micro`` = floor(digits_in_path * 1e6 /
        path_len) — integer micro-units, exact on both engines;
      * ``ext`` = lowercased trailing ``.xxx`` (1-5 alphanumerics) of
        the path, NULL when absent; ``is_homepage`` = path is ``/``;
      * ``has_tracker`` = query carries a ``utm_*``/``gclid``/
        ``fbclid`` parameter.

    One map-side Project over codegen'd JVM expressions — zero
    shuffle, zero UDF, prunes to the url column."""
    u = F.col(url_col)
    raw_path = F.regexp_extract(
        u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    # anchored so a '?' INSIDE the fragment (…#a?x) is never read as a
    # query — RFC 3986 defines no query there (the path regex already
    # stops at '#'; this keeps the two in agreement)
    query = F.regexp_extract(u, r"^[^?#]*\?([^#]*)", 1)
    base = pages.select(u.alias("url"),
                        path.alias("__path"), query.alias("__q"))
    p, q = F.col("__path"), F.col("__q")
    segs = F.filter(F.split(p, "/"), lambda x: x != "")
    return base.select(
        "url",
        host_col(F.col("url")).alias("host"),
        F.size(segs).cast("long").alias("path_depth"),
        F.length(p).cast("long").alias("path_len"),
        F.when(q == "", F.lit(0)).otherwise(
            F.size(F.split(q, "&"))).cast("long").alias("n_params"),
        F.expr("(length(regexp_replace(__path, '[^0-9]', '')) "
               "* 1000000L) div length(__path)")
        .alias("digit_frac_micro"),
        F.nullif(F.lower(F.regexp_extract(
            p, r"\.([A-Za-z0-9]{1,5})$", 1)), F.lit("")).alias("ext"),
        (p == "/").alias("is_homepage"),
        q.rlike(r"(?i)(?:^|&)(utm_[a-z]+|gclid|fbclid)=")
        .alias("has_tracker"))


def host_suffixes_col(host: Column) -> Column:
    """All dot-suffixes of a host: ``news.example.org`` ->
    ``[news.example.org, example.org, org]``. Matching a blocklist
    becomes set membership over <= label-count strings per row — the
    scalable alternative to a ``host LIKE '%.'||domain`` nested-loop
    join. Empty host -> empty array."""
    labels = F.split(host, "[.]")
    n = F.size(labels)
    return F.when(host == "", F.array().cast("array<string>")) \
        .otherwise(F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.array_join(F.slice(labels, i, n - i + 1), ".")))


def blocked_domain_report(df: DataFrame, blocked: list[str], *,
                          url_col: str = "url") -> DataFrame:
    """Rows whose url host falls under any blocked registered domain
    (exact host OR subdomain — standard UT1/adult-blocklist semantics),
    with ``blocked_domain`` = the lexicographically smallest matching
    entry. PURE MAP-SIDE for a list blocklist: the list ships as a
    literal array inside the task binary and matching is
    ``array_intersect`` over the host's suffixes — zero shuffle, zero
    join, the filter Catalyst can pipeline into the scan stage. For
    multi-million-entry lists use ``blocked_domains_join``."""
    bl = F.array(*[F.lit(d.lower()) for d in sorted(set(blocked))])
    host = registrable_host_col(F.col(url_col))
    hits = F.array_intersect(host_suffixes_col(host), bl)
    return (df.withColumn("__host", host)
            .withColumn("blocked_domain", F.array_min(hits))
            .filter(F.size(hits) > 0)
            .withColumn("host", F.col("__host")).drop("__host"))


def filter_blocked_domains(df: DataFrame, blocked: list[str], *,
                           url_col: str = "url") -> DataFrame:
    """``df`` minus every row under a blocked domain — the complement
    of blocked_domain_report, same zero-shuffle map-side plan."""
    bl = F.array(*[F.lit(d.lower()) for d in sorted(set(blocked))])
    host = registrable_host_col(F.col(url_col))
    return df.filter(~F.arrays_overlap(host_suffixes_col(host), bl))


def blocked_domains_join(df: DataFrame, blocked: DataFrame, *,
                         url_col: str = "url", id_col: str,
                         domain_col: str = "domain") -> DataFrame:
    """(id, blocked_domain) for every flagged row — the big-blocklist
    path (UT1-scale lists are millions of domains, too big for a
    literal): explode each host into its <= label-count suffixes and
    EQUI-join suffix = domain, so Spark picks broadcast-hash vs
    shuffle-hash by the blocklist's actual size (AQE); the corpus side
    never fans out more than ~5x and never nested-loops. Compose
    ``df.join(result, id_col, 'left_anti')`` to drop flagged rows."""
    host = registrable_host_col(F.col(url_col))
    sfx = explode_nonull(df, host_suffixes_col(host), "__sfx",
                         F.col(id_col))
    bl = blocked.select(F.lower(F.col(domain_col)).alias("__sfx"))
    return (sfx.join(bl, "__sfx")
            .groupBy(id_col)
            .agg(F.min("__sfx").alias("blocked_domain")))


def host_skew_report(df: DataFrame, url_col: str = "url",
                     top_k: int = 10) -> DataFrame:
    """Pages per host + share of the corpus — the skew probe that
    drives n_salt for host-keyed work (functions/skew.py). One shuffle;
    total from a window sum, not a second scan."""
    from pyspark.sql import Window
    counts = (df.select(host_col(F.col(url_col)).alias("host"))
              .groupBy("host").agg(F.count("*").alias("n_pages")))
    total = F.sum("n_pages").over(Window.partitionBy())
    return (counts
            .withColumn("share", F.round(F.col("n_pages") / total, 6))
            .orderBy(F.col("n_pages").desc(), F.col("host").asc())
            .limit(top_k))


# --- meta-robots directive filtering (crawl-politeness gate) -----------
# A Common-Crawl-style pipeline must honor <meta name="robots"
# content="noindex"> before a page's text enters the corpus (the crawler
# honored robots.txt at FETCH time; the meta tag is the page-level
# opt-out only visible at PARSE time). Cheap detector, not a DOM parse:
# decode the payload prefix and regex the first robots meta — the tag
# is head-only per the HTML spec, so a bounded prefix is enough at
# 100 TB (no full-document decode on the scan path).

# 'robots' must be FOLLOWED by a delimiter (closing quote, whitespace,
# '/', '>' or end-of-scan) so site-specific names that merely start
# with it (name="robots-news") never match; [ \t\n\r] not \s (Java \s
# includes \x0B, RE2 — the oracle engine — does not)
_ROBOTS_NAME_FIRST = (r'<meta[^>]*name[ \t\n\r]*=[ \t\n\r]*["\']?robots'
                      r'(?:["\' \t\n\r/])[^>]*'
                      r'content[ \t\n\r]*=[ \t\n\r]*["\']?([^"\'>]*)')
_ROBOTS_CONTENT_FIRST = (r'<meta[^>]*content[ \t\n\r]*=[ \t\n\r]*'
                         r'["\']?([^"\'>]*)'
                         r'["\']?[^>]*name[ \t\n\r]*=[ \t\n\r]*'
                         r'["\']?robots(?:["\' \t\n\r/>]|$)')


def host_concentration(pages: DataFrame, *, url_col: str = "url",
                       top_k: int = 10) -> DataFrame:
    """One-row corpus-governance report: (n_hosts, n_pages,
    top1_share_micro, topk_share_micro, gini_micro) — HOW concentrated
    the corpus is across hosts. ``host_skew_report`` names the hot
    hosts; this is the scalar the governance dashboard tracks (a
    crawl drifting toward gini 1 is re-crawling a handful of
    platforms; DoReMi/quota mixing wants this number per snapshot).

    Integer-exact pinned definitions (DuckDB oracle twin): counts per
    host (hostless urls -> the '' host, counted like any other), hosts
    ranked by (count asc, host asc); ``gini_micro = (2*S1 - (n+1)*S)
    * 1e6 div (n*S)`` with ``S1 = sum(rank*count)`` — the exact
    population Gini floored once; shares are ``count * 1e6 div
    total``.

    Scale shape: ONE count shuffle over pages (map-side combined);
    the rank then runs over the HOST-COUNT table (corpus-sized in
    hosts, not pages) via sample.py's range-partition prefix-rank
    engine — ranked by (cnt asc, host asc) across
    ``shuffle.partitions`` range partitions with a bounded
    one-row-per-partition driver read, NO single-partition window
    anywhere, so the rank holds at 10^8+ hosts (real Common-Crawl
    host cardinality)."""
    from ocr_engine_spark.functions.sample import global_stratum_ranks

    counts = (pages.select(host_col(F.col(url_col)).alias("host"))
              .groupBy("host").agg(F.count("*").alias("cnt"))
              .withColumn("__s", F.lit(1)))
    granked = global_stratum_ranks(counts, strata_col="__s",
                                   id_col="host", order_col="cnt")
    if granked is None:  # empty corpus -> the agg's all-null 1-row
        granked = counts.withColumn("__grank", F.lit(0).cast("int"))
    # per-row total-host count via a broadcast 1-row aggregate (the
    # repo-wide pattern for scalar fan-in; never a cartesian blowup)
    n_row = granked.agg(F.count("*").cast("int").alias("n"))
    ranked = (granked
              .select("cnt", F.col("__grank").alias("rank"))
              .crossJoin(F.broadcast(n_row)))
    return ranked.agg(
        F.max("n").cast("long").alias("n_hosts"),
        F.sum("cnt").cast("long").alias("n_pages"),
        F.expr("max(cnt) * 1000000L div sum(cnt)")
        .alias("top1_share_micro"),
        F.expr(f"sum(CASE WHEN rank > n - {int(top_k)} "
               f"THEN cnt ELSE 0 END) * 1000000L div sum(cnt)")
        .alias("topk_share_micro"),
        # decimal(38,0) arithmetic: sum(rank*cnt) is bounded by
        # n_hosts*n_pages, so the *1e6 numerator overflows int64 at
        # the docstring's own target scale (1e5 hosts x 1e9 pages ->
        # ~1e20) and non-ANSI long math would wrap SILENTLY. DuckDB's
        # sum() is already HUGEINT, so decimal keeps both sides exact.
        # Numerator is >= 0 (ascending-rank population Gini), so
        # floor == the oracle's // truncation.
        F.expr("cast(floor((2 * sum(cast(rank * cnt as decimal(38,0)))"
               " - (max(n) + 1) * sum(cast(cnt as decimal(38,0))))"
               " * 1000000 / (cast(max(n) as decimal(38,0))"
               " * sum(cnt))) as long)")
        .alias("gini_micro"))


# ---------------------------------------------------------------------------
# HTML payload scan shell: every page extractor below reads the payload
# through these helpers, so the charset discipline, the non-HTML gate
# and the whitespace/portability finish are written once
# ---------------------------------------------------------------------------

def _html_head(html: Column, scan_bytes: int | None) -> tuple[Column, Column]:
    """``(head, is_html)`` for an HTML payload column. ``head`` is the
    ISO-8859-1 decode of the first ``scan_bytes`` bytes (the whole
    payload when None: the exact-oracle mode, DuckDB cannot slice
    blobs). ISO-8859-1, not UTF-8: every grammar here is ASCII, latin-1
    maps every byte (no decode failure on mojibake or legacy-charset
    pages, which still carry their ASCII markup verbatim), and a prefix
    cut can never split a character. ``is_html`` is the leading-``<``
    gate: PDF and other binary payloads are never read as markup."""
    prefix = html if scan_bytes is None else F.substring(html, 1,
                                                         scan_bytes)
    return (F.decode(prefix, "ISO-8859-1"),
            F.substring(html, 1, 1) == F.lit(b"<"))


def _trim_gate(v: Column, *, ascii_only: bool = True) -> Column:
    """Trim, empty -> NULL; under ``ascii_only`` the engine-wide
    clean-printable portability gate (printable ASCII, no backslash: a
    raw high byte fails it on the Spark side and carries a blob-escape
    backslash on the DuckDB side, so both engines reject the same
    values). Used directly for JSON payloads (never collapsed) and for
    value classes that cannot hold whitespace."""
    v = F.nullif(F.trim(v), F.lit(""))
    if ascii_only:
        v = portable_or_null(v)
    return v


def _head_field_finish(raw: Column, *, ascii_only: bool = True) -> Column:
    """Finish an ALREADY-extracted raw text value: collapse whitespace
    runs, then ``_trim_gate``. Kept apart from the regexp_extract so
    extractors can materialize the expensive extract ONCE in an inner
    Project — nullif + the gate reference their operand ~6x, and with
    the extract inlined that replication (x n_fields) blows the JVM's
    64 KB whole-stage-codegen limit (og_metadata was the proof)."""
    return _trim_gate(F.regexp_replace(raw, r"[ \t\n\r]+", " "),
                      ascii_only=ascii_only)


def _grammar_rows(pages: DataFrame, grammar: str, group: int,
                  scan_bytes: int | None) -> DataFrame:
    """``(url, pos, match)``: capture ``group`` of every ``grammar``
    match in each HTML page's scanned head, ``pos`` numbering the
    matches per url in document order. One codegen'd
    ``regexp_extract_all`` + a map-side ``posexplode_nonull`` — zero
    shuffle, zero UDF, and no Catalyst-inferred guard that would
    re-evaluate the grammar (generate.py)."""
    head, is_html = _html_head(F.col("html"), scan_bytes)
    ms = F.when(is_html, F.regexp_extract_all(head, F.lit(grammar),
                                              F.lit(group)))
    return (posexplode_nonull(pages, ms, "pos", "match", "url")
            .select("url", F.col("pos").cast("long").alias("pos"),
                    "match"))


_CHARSET_DECL_RE = (r'(?i)<meta[^>]+charset[ \t\n\r]*=[ \t\n\r]*'
                    r'["\']?[ \t\n\r]*([A-Za-z0-9_-]+)')


def charset_report(pages: DataFrame, *,
                   scan_bytes: int | None = 4096) -> DataFrame:
    """(charset, n_pages) — the corpus's declared-encoding landscape:
    the first ``<meta charset=..>`` / ``http-equiv content-type``
    charset token per page (the same declaration the extraction
    kernel's sniff stage honors — kernels/html_extract.py — so this
    report says which decode paths the corpus will exercise and how
    much mojibake repair to expect). Lowercased, first match wins;
    HTML without a declaration -> ``(undeclared)``; non-HTML payloads
    -> ``(binary)``. One map-side extract + one count shuffle."""
    head, is_html = _html_head(F.col("html"), scan_bytes)
    decl = F.nullif(F.lower(F.regexp_extract(
        head, _CHARSET_DECL_RE, 1)), F.lit(""))
    cs = F.when(~is_html, F.lit("(binary)")) \
          .otherwise(F.coalesce(decl, F.lit("(undeclared)")))
    return (pages.select(cs.alias("charset"))
            .groupBy("charset").agg(F.count("*").alias("n_pages"))
            .orderBy("charset"))


def skeleton_col(html: Column, *, scan_bytes: int | None = 4096) -> Column:
    """Tag skeleton of an HTML payload: the bounded ISO-8859-1 prefix
    with every text run between tags dropped (``>text<`` -> ``><``)
    and runs of whitespace inside what remains collapsed. Two pages
    rendered from the same template produce the SAME skeleton even
    though their text differs — attribute values are kept (ids and
    hrefs differing per page mean 'different template instance', a
    pinned conservatism that under-merges, never over-merges).
    NULL for non-HTML payloads (leading-``<`` gate)."""
    head, is_html = _html_head(html, scan_bytes)
    skel = F.regexp_replace(head, r">[^<]*", ">")
    skel = F.regexp_replace(skel, r"[ \t\n\r]+", " ")
    return F.when(is_html, skel)


def template_report(pages: DataFrame, *,
                    scan_bytes: int | None = 4096) -> DataFrame:
    """(host, n_pages, n_skeletons, top_share_micro) — per-host
    template concentration: how many of a host's HTML pages share one
    tag skeleton. A host serving thousands of pages from one skeleton
    is a listing/doorway/tag-page generator (the Common-Crawl template
    -spam motif); hosts with top_share_micro near 1e6 and high page
    counts are prune candidates BEFORE content-level quality scoring
    spends tokens on them.

    Scale shape: skeleton is a map-side projection (``skeleton_col``,
    hashed to md5-int60 so the shuffle key is 8 bytes, not the 4 KB
    skeleton); ONE (host, skeleton) count shuffle (map-side combined)
    + one host rollup. Integer micro share, floored once — DuckDB
    oracle replays both regexes, the hash and the arithmetic.

    Engine-parity note: pages whose skeleton carries a high byte,
    control char or backslash INSIDE a tag are dropped by the
    clean-printable gate before hashing (Spark re-encodes the decoded
    string as UTF-8, DuckDB sees escape sequences — ungated they
    would hash differently). Tag-internal bytes are ~always ASCII, so
    this drops ~nothing; a production variant can swap md5 for
    xxhash64 over raw bytes and skip the gate (the simhash rule)."""
    from ocr_engine_spark.functions.text import md5_int60_col
    skel = skeleton_col(F.col("html"), scan_bytes=scan_bytes)
    skel = portable_or_null(skel)
    sk = md5_int60_col(skel)
    per = (pages.select(host_col(F.col("url")).alias("host"),
                        sk.alias("__skel"))
           .where(F.col("__skel").isNotNull())
           .groupBy("host", "__skel")
           .agg(F.count("*").alias("cnt")))
    return (per.groupBy("host")
            .agg(F.sum("cnt").cast("long").alias("n_pages"),
                 F.count("*").cast("long").alias("n_skeletons"),
                 F.expr("max(cnt) * 1000000L div sum(cnt)")
                 .alias("top_share_micro")))


def meta_robots_col(html: Column, *, scan_bytes: int | None = 4096
                    ) -> Column:
    """Lowercased content of the page's ``<meta name=robots>`` tag, or
    NULL (non-HTML payload / no tag). Payloads are gated on a leading
    ``<`` byte so PDF bytes are never decoded; both attribute orders
    match (name-first and content-first). ``scan_bytes=None`` decodes
    the full payload (exact-oracle mode); the default bounds the decode
    for the scan path."""
    head, is_html = _html_head(html, scan_bytes)
    head = F.lower(head)
    directive = F.coalesce(
        F.nullif(F.regexp_extract(head, _ROBOTS_NAME_FIRST, 1), F.lit("")),
        F.nullif(F.regexp_extract(head, _ROBOTS_CONTENT_FIRST, 1),
                 F.lit("")))
    return F.when(is_html, F.trim(directive))


def noindex_col(html: Column, *, scan_bytes: int | None = 4096) -> Column:
    """True when the page opts out of indexing: directive contains a
    ``noindex`` or ``none`` token (``none`` = noindex+nofollow per the
    robots meta spec)."""
    d = meta_robots_col(html, scan_bytes=scan_bytes)
    # [ \t] not \s: Java \s includes \x0B, RE2 (oracle) does not
    toks = F.split(d, r"[ \t]*,[ \t]*")
    return (F.arrays_overlap(toks, F.array(F.lit("noindex"),
                                           F.lit("none")))
            & d.isNotNull())


def filter_noindex(df: DataFrame, *,
                   scan_bytes: int | None = 4096) -> DataFrame:
    """Drop pages whose robots meta opts out (NULL directive = keep:
    absence of the tag is consent for indexing)."""
    return df.where(~F.coalesce(
        noindex_col(F.col("html"), scan_bytes=scan_bytes),
        F.lit(False)))


def robots_report(df: DataFrame, *,
                  scan_bytes: int | None = 4096) -> DataFrame:
    """(directive, n_pages, n_dropped) — corpus-wide robots-meta
    audit; '(absent)' covers untagged HTML and non-HTML payloads."""
    d = meta_robots_col(F.col("html"), scan_bytes=scan_bytes)
    drop = F.coalesce(noindex_col(F.col("html"), scan_bytes=scan_bytes),
                      F.lit(False))
    return (df.select(F.coalesce(d, F.lit("(absent)")).alias("directive"),
                      drop.cast("long").alias("__drop"))
            .groupBy("directive")
            .agg(F.count("*").alias("n_pages"),
                 F.sum("__drop").alias("n_dropped"))
            .orderBy("directive"))


# ---------------------------------------------------------------------------
# page metadata (title / meta description / canonical url)
# ---------------------------------------------------------------------------

_TITLE_RE = r"(?i)<title[^>]*>([^<]*)</title>"
_DESC_NAME_FIRST = (r'(?i)<meta[^>]*name[ \t\n\r]*=[ \t\n\r]*'
                    r'["\']?description(?:["\' \t\n\r/])[^>]*'
                    r'content[ \t\n\r]*=[ \t\n\r]*["\']?([^"\'>]*)')
_DESC_CONTENT_FIRST = (r'(?i)<meta[^>]*content[ \t\n\r]*=[ \t\n\r]*'
                       r'["\']?([^"\'>]*)'
                       r'["\']?[^>]*name[ \t\n\r]*=[ \t\n\r]*'
                       r'["\']?description(?:["\' \t\n\r/>]|$)')
_CANON_REL_FIRST = (r'(?i)<link[^>]*rel[ \t\n\r]*=[ \t\n\r]*'
                    r'["\']?canonical(?:["\' \t\n\r/])[^>]*'
                    r'href[ \t\n\r]*=[ \t\n\r]*["\']?([^"\' \t\n\r>]*)')
_CANON_HREF_FIRST = (r'(?i)<link[^>]*href[ \t\n\r]*=[ \t\n\r]*'
                     r'["\']?([^"\' \t\n\r>]*)'
                     r'["\']?[^>]*rel[ \t\n\r]*=[ \t\n\r]*'
                     r'["\']?canonical(?:["\' \t\n\r/>]|$)')


def _first_match_fields(pages: DataFrame,
                        fields: dict[str, tuple[str, ...]],
                        scan_bytes: int | None,
                        ascii_only: bool) -> DataFrame:
    """(url, *fields): each field is the first of its grammars, tried in
    order, whose finished group 1 is non-NULL; NULL for non-HTML
    payloads. Pure map-side plan of TWO stacked Projects, zero shuffle,
    zero UDF — the inner Project materializes every regexp extract
    once, the outer finishes (trim/nullif/gate) over the cheap
    attribute refs. CollapseProject keeps them separate because the
    producer expressions are non-cheap and multiply referenced;
    collapsed into one Project the replicated decode+extract subtrees
    overflow the 64 KB codegen limit and the whole stage runs
    interpreted (~6x slower — BENCH.md round-3/4 notes)."""
    head, is_html = _html_head(F.col("html"), scan_bytes)
    inner = pages.select(
        "url", is_html.alias("__is_html"),
        *[F.regexp_extract(head, pat, 1).alias(f"__{name}_{i}")
          for name, pats in fields.items() for i, pat in enumerate(pats)])

    def _field(name: str, n: int) -> Column:
        fin = [_head_field_finish(F.col(f"__{name}_{i}"),
                                  ascii_only=ascii_only) for i in range(n)]
        return F.when(F.col("__is_html"), F.coalesce(*fin)).alias(name)

    return inner.select("url", *[_field(name, len(pats))
                                 for name, pats in fields.items()])


def page_metadata(pages: DataFrame, *,
                  scan_bytes: int | None = 8192,
                  ascii_only: bool = True) -> DataFrame:
    """(url, title, meta_description, canonical_url) — the head-section
    page signals a webtext pipeline keys on (title/description feed
    quality scoring and search snippets; ``rel=canonical`` is the
    site's OWN dedup hint and belongs next to canonical_url_col's
    syntactic merge). First match wins per field; both attribute
    orders for meta/link; values whitespace-collapsed; empty -> NULL;
    non-HTML payloads gated on the leading ``<`` byte and never
    decoded. Follows the ``_html_head`` charset discipline and — under
    ``ascii_only`` (default) — the clean-printable portability gate,
    which makes the whole extractor oracle-checkable. Pure map-side
    plan (``_first_match_fields``): zero shuffle, zero UDF.
    """
    return _first_match_fields(
        pages, {"title": (_TITLE_RE,),
                "meta_description": (_DESC_NAME_FIRST, _DESC_CONTENT_FIRST),
                "canonical_url": (_CANON_REL_FIRST, _CANON_HREF_FIRST)},
        scan_bytes, ascii_only)


# ---------------------------------------------------------------------------
# heading outline (h1-h6 document structure)
# ---------------------------------------------------------------------------

_HEADING_RE = r"(?i)<h([1-6])[^>]*>([^<]*)</h"


def heading_records(pages: DataFrame, *,
                    scan_bytes: int | None = 8192,
                    ascii_only: bool = True) -> DataFrame:
    """(url, pos, level, heading) — every ``<h1>``–``<h6>`` element in
    document order: the page's own structural outline, a direct
    quality/topicality signal (heading density and hierarchy feed
    boilerplate vs article classification, and h1s are title
    candidates next to ``page_metadata``).

    One codegen'd ``regexp_extract_all`` over the bounded ISO-8859-1
    prefix decode + a map-side posexplode — zero shuffle, zero UDF,
    zero array lambdas. Pinned semantics (replayed verbatim by the
    oracle): a heading is captured only when its text is TAG-FREE
    (``[^<]*`` up to the closing ``</h``) — headings with child
    elements are skipped, not partially captured; the closing tag's
    level digit is not validated; text is whitespace-collapsed and
    trimmed; empty headings are dropped; ``pos`` numbers the MATCHED
    headings per url in document order (empty or portability-gated
    entries keep their slot, so dropped rows leave holes). Follows meta_robots_col's
    charset discipline (leading-``<`` PDF gate, never decodes non-HTML
    payloads) and — under ``ascii_only`` — linkgraph's clean-printable
    portability gate."""
    e = _grammar_rows(pages, _HEADING_RE, 0, scan_bytes)
    level = F.regexp_extract("match", r"(?i)<h([1-6])", 1).cast("long")
    txt = _head_field_finish(F.regexp_extract("match", _HEADING_RE, 2),
                             ascii_only=ascii_only)
    return (e.select("url", "pos", level.alias("level"),
                     txt.alias("heading"))
            .filter(F.col("heading").isNotNull()))


def outline_profile(pages: DataFrame, **kwargs) -> DataFrame:
    """Per-url outline summary over ``heading_records``: heading count,
    level histogram bounds, and the first h1 (title candidate) — one
    map-side extract + one aggregate."""
    h = heading_records(pages, **kwargs)
    return (h.groupBy("url").agg(
        F.count("*").alias("n_headings"),
        F.min("level").alias("min_level"),
        F.max("level").alias("max_level"),
        F.min(F.when(F.col("level") == 1,
                     F.struct("pos", "heading"))).alias("__h1"))
        .select("url", "n_headings", "min_level", "max_level",
                F.col("__h1")["heading"].alias("first_h1")))


# ---------------------------------------------------------------------------
# HTML table extraction
# ---------------------------------------------------------------------------

_TABLE_BLOCK_RE = r"(?is)<table[^>]*>(.*?)</table>"
_TABLE_ROW_RE = r"(?is)<tr[^>]*>(.*?)</tr>"
_TABLE_CELL_RE = r"(?is)<t([dh])[^>]*>([^<]*)</t[dh]"


def table_records(pages: DataFrame, *,
                  scan_bytes: int | None = 8192,
                  ascii_only: bool = True) -> DataFrame:
    """(url, table_pos, row_pos, col_pos, is_header, cell) — every
    tag-free ``<td>``/``<th>`` cell of every ``<table>`` in document
    order: structured tabular data mined straight off the crawl (the
    WebTables / TabLib motif — relational facts and eval-style QA
    pairs live in crawl tables, and a training-data pipeline wants
    them as rows, not markup).

    Three chained codegen'd ``regexp_extract_all`` + map-side
    ``posexplode`` stages over the bounded ISO-8859-1 prefix decode —
    zero shuffle, zero UDF. At 100 TB this is a pure map operator:
    output partitioning follows the page scan, and the fan-out is
    bounded by scan_bytes.

    Pinned semantics (replayed verbatim by the DuckDB oracle):

      * a table block is lazy ``<table...>`` .. first ``</table>`` —
        a NESTED table's close truncates its parent, so the parent
        captures rows up to the inner close and the grammar never
        backtracks (single forward pass, RE2-compatible);
      * rows are lazy ``<tr...>`` .. first ``</tr>`` within a block;
      * a cell is captured only when its text is TAG-FREE
        (``[^<]*`` to the closing ``</td|th``) — cells with child
        elements are skipped entirely (they occupy no col slot); the
        closing tag's letter is not validated against the opening;
      * cell text is whitespace-collapsed and trimmed; empty or
        portability-gated cells keep their ``col_pos`` slot but are
        dropped (holes), mirroring ``heading_records``;
      * ``is_header`` is the OPENING tag letter (th vs td),
        case-insensitive.

    Follows the engine-wide charset discipline: leading-``<`` HTML
    gate (PDFs and other payloads are never decoded), bounded prefix
    scan, and — under ``ascii_only`` — the clean-printable
    portability gate shared with linkgraph/heading_records."""
    t = _grammar_rows(pages, _TABLE_BLOCK_RE, 1, scan_bytes)
    rows = F.regexp_extract_all(F.col("match"), F.lit(_TABLE_ROW_RE),
                                F.lit(1))
    r = posexplode_nonull(t, rows, "row_pos", "__row",
                          "url", F.col("pos").alias("table_pos"))
    cells = F.regexp_extract_all(F.col("__row"), F.lit(_TABLE_CELL_RE),
                                 F.lit(0))
    c = posexplode_nonull(r, cells, "col_pos", "__m",
                          "url", "table_pos", "row_pos")
    is_header = (F.lower(F.regexp_extract("__m", _TABLE_CELL_RE, 1))
                 == F.lit("h"))
    txt = _head_field_finish(F.regexp_extract("__m", _TABLE_CELL_RE, 2),
                             ascii_only=ascii_only)
    return (c.select("url", "table_pos",
                     F.col("row_pos").cast("long").alias("row_pos"),
                     F.col("col_pos").cast("long").alias("col_pos"),
                     is_header.alias("is_header"),
                     txt.alias("cell"))
            .filter(F.col("cell").isNotNull()))


def table_profile(pages: DataFrame, **kwargs) -> DataFrame:
    """Per-url tabular-content summary over ``table_records``: table /
    row / cell counts, header-cell count and the widest row — the
    page-level feature a table-mining selector filters on (e.g. keep
    pages with >= 1 table of >= 2 data rows). One map-side extract +
    one aggregate."""
    c = table_records(pages, **kwargs)
    per_row = (c.groupBy("url", "table_pos", "row_pos")
               .agg(F.count("*").alias("__w"),
                    F.sum(F.col("is_header").cast("long"))
                    .alias("__h")))
    return (per_row.groupBy("url").agg(
        F.countDistinct("table_pos").alias("n_tables"),
        F.count("*").alias("n_rows"),
        F.sum("__w").alias("n_cells"),
        F.sum("__h").alias("n_header_cells"),
        F.max("__w").alias("max_row_width")))


# ---------------------------------------------------------------------------
# JSON-LD structured data (schema.org)
# ---------------------------------------------------------------------------

_JSONLD_RE = (r'(?is)<script[^>]*type[ \t\n\r]*=[ \t\n\r]*["\x27]?'
              r'application/ld\+json["\x27]?[^>]*>(.*?)</script>')


def jsonld_records(pages: DataFrame, *,
                   scan_bytes: int | None = 8192,
                   ascii_only: bool = True) -> DataFrame:
    """(url, pos, payload) — the raw body of every
    ``<script type="application/ld+json">`` block in document order:
    the page's self-declared schema.org entities (Article, Product,
    Organization, ...), the highest-precision structured-data signal a
    crawl carries and the raw material for entity/eval-pair mining.

    One codegen'd ``regexp_extract_all`` over the bounded ISO-8859-1
    prefix decode + a map-side posexplode — zero shuffle, zero UDF.
    Pinned semantics (replayed verbatim by the DuckDB oracle):

      * a block is lazy ``<script ... type=["']?application/ld+json
        ["']?...>`` .. first ``</script>`` — type may be quoted either
        way or bare, case-insensitive, any attribute order around it;
      * the payload is TRIMMED ONLY (never whitespace-collapsed — it
        is JSON, not prose); empty payloads drop with ``pos`` holes;
      * under ``ascii_only`` the clean-printable portability gate
        applies to the WHOLE payload — note this drops any payload
        whose JSON strings use backslash escapes, a documented
        conservatism shared with linkgraph/heading/table extraction.

    Follows the engine-wide charset discipline: leading-``<`` HTML
    gate, bounded prefix scan."""
    e = _grammar_rows(pages, _JSONLD_RE, 1, scan_bytes)
    payload = _trim_gate(F.col("match"), ascii_only=ascii_only)
    return (e.select("url", "pos", payload.alias("payload"))
            .filter(F.col("payload").isNotNull()))


def jsonld_entities(pages: DataFrame, **kwargs) -> DataFrame:
    """(url, pos, is_valid, ld_context, ld_type, ld_name) — the
    schema.org headline fields of each ``jsonld_records`` payload.

    Field extraction is pinned to the STRICT-RFC-8259 surface: a
    payload is parsed only when ``try_parse_json`` accepts it
    (is_valid), and the DuckDB oracle gates with ``json_valid`` — on
    that common strict surface both engines extract and render
    identically, including compact re-rendering of array/object
    values (probed: ``{"a": 1}`` → ``{"a":1}`` on BOTH). Off-surface
    divergences, documented rather than reachable on ascii-gated
    payloads guarded by both strict parsers:

      * duplicate keys — Spark's variant parser REJECTS (is_valid
        false), DuckDB keeps the first occurrence;
      * single-quoted strings / raw control chars — both strict
        parsers reject, though Spark's lenient ``get_json_object``
        alone would accept them (hence the explicit gate).

    Still map-only: parse + three path extractions fuse into the same
    whole-stage-codegen'd Project as the record scan."""
    r = jsonld_records(pages, **kwargs)
    valid = F.try_parse_json("payload").isNotNull()
    return r.select(
        "url", "pos", valid.alias("is_valid"),
        F.when(valid, F.get_json_object(
            "payload", "$['@context']")).alias("ld_context"),
        F.when(valid, F.get_json_object(
            "payload", "$['@type']")).alias("ld_type"),
        F.when(valid, F.get_json_object(
            "payload", "$.name")).alias("ld_name"))


# ---------------------------------------------------------------------------
# page feature vector (the quality-classifier input row)
# ---------------------------------------------------------------------------

def page_features(pages: DataFrame, *,
                  scan_bytes: int | None = 8192) -> DataFrame:
    """One row per url of page-STRUCTURE features — the vector a
    page-quality / page-type classifier consumes (``classify.nb_fit``
    trains on exactly this kind of table; the per-family extractors
    are the drill-down surfaces, this is the cheap wide scan).

    Features (counts of the same pinned grammars the extractors use,
    over the bounded ISO-8859-1 prefix decode): n_headings, n_tables,
    n_lists, n_links (<a href), n_images, n_media, n_embeds,
    n_scripts, n_meta, has_title, has_canonical, has_jsonld,
    html_bytes, tags_per_kb_micro (opening tags per KB of payload,
    integer micro: ``n_tags * 1024e6 div html_bytes``). Non-HTML
    payloads -> all counts 0/false (html_bytes kept).

    Scale shape: EVERY feature is a codegen'd ``regexp_count``/
    ``rlike`` over the one decoded prefix — ONE map-side Project,
    zero explode, zero shuffle, zero UDF. The exploding extractors
    pay a Generate per family; this pays nothing, which is why the
    classifier-facing wide table uses counts, not records."""
    html = F.col("html")
    head, is_html = _html_head(html, scan_bytes)

    def cnt(pat: str) -> Column:
        return F.when(is_html,
                      F.regexp_count(head, F.lit(pat))) \
                .otherwise(F.lit(0)).cast("long")

    base = pages.select(
        "url",
        cnt(r"(?i)<h[1-6][ \t\n\r>]").alias("n_headings"),
        cnt(r"(?i)<table[ \t\n\r>]").alias("n_tables"),
        cnt(r"(?i)<[uo]l[ \t\n\r>]").alias("n_lists"),
        cnt(r"(?i)<a[ \t\n\r][^>]*href").alias("n_links"),
        cnt(r"(?i)<img[ \t\n\r]").alias("n_images"),
        cnt(r"(?i)<(?:video|audio|source|track)[ \t\n\r]")
        .alias("n_media"),
        cnt(r"(?i)<(?:iframe|embed)[ \t\n\r]").alias("n_embeds"),
        cnt(r"(?i)<script[ \t\n\r>]").alias("n_scripts"),
        cnt(r"(?i)<meta[ \t\n\r]").alias("n_meta"),
        cnt(r"<[a-zA-Z]").alias("__n_tags"),
        (is_html & head.rlike(r"(?i)<title[^>]*>"))
        .alias("has_title"),
        (is_html & head.rlike(
            r"(?i)<link[^>]*rel[ \t\n\r]*=[ \t\n\r]*"
            r"[\"']?canonical")).alias("has_canonical"),
        (is_html & head.rlike(r'(?i)type[ \t\n\r]*=[ \t\n\r]*["\']?'
                              r'application/ld\+json'))
        .alias("has_jsonld"),
        F.length(html).cast("long").alias("html_bytes"))
    return base.select(
        "url", "n_headings", "n_tables", "n_lists", "n_links",
        "n_images", "n_media", "n_embeds", "n_scripts", "n_meta",
        "has_title", "has_canonical", "has_jsonld", "html_bytes",
        F.when(F.col("html_bytes") > 0,
               F.expr("__n_tags * 1024000000L div html_bytes"))
        .alias("tags_per_kb_micro"))


# ---------------------------------------------------------------------------
# image alt-text pairs (the LAION image-caption mining seed)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# shared attribute-value grammar (every discovery extractor builds its
# regex constants from these two factories — ONE definition of the
# attr-name boundary and value classes, so a boundary bug can never
# again replicate across 19 inline copies; round-3 verdict #7)
# ---------------------------------------------------------------------------

#: default unquoted-or-quoted value class: stops at quote/space/tag-end
_ATTR_VAL_CLS = r'[^"\' \t\n\r>]+'


def attr_val_re(attr: str, *, value_cls: str = _ATTR_VAL_CLS,
                in_tag: bool = False, quoted: bool = False) -> str:
    """RE2+Java-compatible ``attr=value`` capture grammar. The leading
    ``[ \\t\\n\\r]`` boundary guarantees ``data-<attr>=`` never counts
    as a real declaration. ``in_tag`` prefixes ``<[^>]*`` for grammars
    that must match from the tag open; ``quoted`` requires quote
    delimiters (value may then contain spaces)."""
    prefix = r"(?i)<[^>]*" if in_tag else r"(?i)"
    head = prefix + r"[ \t\n\r]" + attr + r"[ \t\n\r]*=[ \t\n\r]*"
    if quoted:
        return head + r'["\'](' + value_cls + r')["\']'
    return head + r'["\']?(' + value_cls + r")"


def attr_token_re(attr: str, token: str) -> str:
    """``attr=<token>`` grammar for fixed-vocabulary attributes
    (rel=next/prev/alternate): same boundary discipline, token closed
    by quote/space/tag-end/end-of-text instead of a capture class."""
    return (r"(?i)[ \t\n\r]" + attr + r"[ \t\n\r]*=[ \t\n\r]*"
            + r'["\']?' + token + r'(?:["\' \t\n\r/>]|$)')


_IMG_TAG_RE = r"(?i)<img[ \t\n\r][^>]*>"
_IMG_SRC_RE = attr_val_re("src")
_IMG_ALT_RE = attr_val_re("alt", value_cls=r'[^"\']*', quoted=True)


def image_captions(pages: DataFrame, *,
                   scan_bytes: int | None = 8192,
                   ascii_only: bool = True,
                   min_alt_len: int = 5) -> DataFrame:
    """(url, pos, src, alt) — every ``<img>`` with BOTH a source and a
    non-trivial alt text: the raw (image-url, caption) candidate pairs
    of the LAION/CLIP-style recipe (fetch src, embed, filter by
    image-text similarity — the fetch/embed stages compose via
    ``multimodal``; this operator is the crawl-side miner).

    One codegen'd ``regexp_extract_all`` + map-side posexplode +
    per-tag extracts — zero shuffle, zero UDF. Pinned semantics
    (replayed verbatim by the DuckDB oracle):

      * ``pos`` numbers ALL ``<img ...>`` tags per url in document
        order; tags without a src, with a QUOTELESS alt (bare alt
        values end at whitespace — mid-caption truncation would
        corrupt pairs, so bare alts are rejected, documented
        conservatism), with an alt shorter than ``min_alt_len`` after
        whitespace collapse, or failing the gate, drop as holes;
      * ``src`` = whitespace-free attribute value, quoted or bare,
        kept verbatim (``linkgraph.resolve_url_col`` composes);
      * ``alt`` is whitespace-collapsed and trimmed; under
        ``ascii_only`` both values carry the clean-printable gate.

    Engine-wide charset discipline: leading-``<`` HTML gate, bounded
    prefix scan."""
    e = _grammar_rows(pages, _IMG_TAG_RE, 0, scan_bytes)
    src = _trim_gate(F.regexp_extract("match", _IMG_SRC_RE, 1),
                     ascii_only=ascii_only)
    alt = _head_field_finish(F.regexp_extract("match", _IMG_ALT_RE, 1),
                             ascii_only=ascii_only)
    alt = F.when(F.length(alt) >= int(min_alt_len), alt)
    return (e.select("url", "pos", src.alias("src"), alt.alias("alt"))
            .filter(F.col("src").isNotNull() & F.col("alt").isNotNull()))


# ---------------------------------------------------------------------------
# HTML list extraction (ul/ol/li)
# ---------------------------------------------------------------------------

_LIST_BLOCK_RE = (r"(?is)<([uo])l(?:>|[ \t\n\r][^>]*>)(.*?)"
                  r"</[uo]l[ \t\n\r]*>")
_LIST_ITEM_RE = r"(?is)<li(?:>|[ \t\n\r][^>]*>)([^<]*)"


def list_records(pages: DataFrame, *,
                 scan_bytes: int | None = 8192,
                 ascii_only: bool = True) -> DataFrame:
    """(url, list_pos, ordered, item_pos, item) — every ``<li>`` of
    every ``<ul>``/``<ol>`` block: the third leg of DOM-structure
    mining next to ``heading_records`` and ``table_records`` (list
    density separates navigation/boilerplate from article bodies, and
    ol blocks are the how-to / step-sequence signal instruction-data
    miners target).

    Two chained codegen'd ``regexp_extract_all`` stages + map-side
    posexplodes — zero shuffle, zero UDF. Pinned grammar (replayed
    verbatim by the DuckDB oracle):

      * a block is lazy ``<ul>``/``<ol>`` (attrs allowed) .. the
        FIRST ``</ul>``/``</ol>`` closer — the closing kind letter is
        NOT validated, and a NESTED list truncates its parent at the
        inner closer, attributing the inner items to the outer block
        (one-level grammar, documented leniency — the table twin
        truncates the same way);
      * ``ordered`` is the OPENING tag letter (ol vs ul);
      * an item is ``<li>``'s immediate tag-free text (HTML omits
        ``</li>`` freely, so the capture ends at the next tag); items
        whose text starts with a child element drop with ``item_pos``
        holes; whitespace-collapsed, trimmed, empty dropped;
      * under ``ascii_only`` items carry the clean-printable gate.

    Engine-wide charset discipline: leading-``<`` HTML gate, bounded
    prefix scan."""
    b = _grammar_rows(pages, _LIST_BLOCK_RE, 0, scan_bytes)
    ordered = (F.lower(F.regexp_extract("match", _LIST_BLOCK_RE, 1))
               == F.lit("o"))
    body = F.regexp_extract("match", _LIST_BLOCK_RE, 2)
    items = F.regexp_extract_all(body, F.lit(_LIST_ITEM_RE), F.lit(1))
    i = posexplode_nonull(b, items, "item_pos", "__i", "url",
                          F.col("pos").alias("list_pos"),
                          ordered.alias("ordered"))
    item = _head_field_finish(F.col("__i"), ascii_only=ascii_only)
    return (i.select("url", "list_pos", "ordered",
                     F.col("item_pos").cast("long").alias("item_pos"),
                     item.alias("item"))
            .filter(F.col("item").isNotNull()))


# ---------------------------------------------------------------------------
# media source harvest (video/audio/source/track tags) + pagination
# ---------------------------------------------------------------------------

_MEDIA_TAG_RE = r"(?i)<(?:video|audio|source|track)[ \t\n\r][^>]*>"
_EMBED_TAG_RE = r"(?i)<(?:iframe|embed)[ \t\n\r][^>]*>"
_MEDIA_KIND_RE = r"(?i)^<([a-z]+)"
_PAGINATION_REL_RE = attr_token_re("rel", r"(next|prev)")


def _tag_src_records(pages: DataFrame, tag_re: str,
                     scan_bytes: int | None,
                     ascii_only: bool) -> DataFrame:
    """(url, pos, tag, src) for every ``tag_re`` tag carrying a
    ``src``: ``pos`` numbers ALL matched tags per url (srcless tags
    drop as holes), ``tag`` is the lowercased element name, ``src`` is
    kept verbatim under the gate."""
    e = _grammar_rows(pages, tag_re, 0, scan_bytes)
    src = _trim_gate(F.regexp_extract("match", _IMG_SRC_RE, 1),
                     ascii_only=ascii_only)
    return (e.select("url", "pos",
                     F.lower(F.regexp_extract("match", _MEDIA_KIND_RE,
                                              1)).alias("tag"),
                     src.alias("src"))
            .filter(F.col("src").isNotNull()))


def media_links(pages: DataFrame, *,
                scan_bytes: int | None = 8192,
                ascii_only: bool = True) -> DataFrame:
    """(url, pos, tag, src) — every ``<video>``/``<audio>``/
    ``<source>``/``<track>`` tag carrying a ``src``: the crawl-side
    seed of the multimodal corpus (fetch src -> ``multimodal`` decode/
    feature/phash stages compose; ``image_captions`` is the image
    twin). Pinned semantics: ``pos`` numbers ALL matched media tags
    per url in document order (srcless tags drop as holes); ``tag``
    is the lowercased element name; ``src`` kept verbatim for
    ``linkgraph.resolve_url_col``; clean-printable gate under
    ``ascii_only``. One map-side regexp_extract_all + posexplode —
    zero shuffle, zero UDF; engine-wide charset discipline."""
    return _tag_src_records(pages, _MEDIA_TAG_RE, scan_bytes, ascii_only)



def embed_links(pages: DataFrame, *,
                scan_bytes: int | None = 8192,
                ascii_only: bool = True) -> DataFrame:
    """(url, pos, tag, src) — every ``<iframe>``/``<embed>`` with a
    ``src``: third-party embeds are how most video reaches the web
    (the YouTube/Vimeo-embed discovery channel — ``media_links``
    finds self-hosted media, this finds platform-hosted), and embed
    density is itself an ad/widget page-quality signal. Same pinned
    tag-enumeration grammar, pos holes, verbatim src and gate
    discipline as ``media_links`` — one map-side pass, zero shuffle,
    zero UDF."""
    return _tag_src_records(pages, _EMBED_TAG_RE, scan_bytes, ascii_only)


def pagination_links(pages: DataFrame, *,
                     scan_bytes: int | None = 8192,
                     ascii_only: bool = True) -> DataFrame:
    """(url, rel_next, rel_prev) — the ``<link rel=next/prev>``
    pagination declarations: how a crawler walks a listing series
    completely (and how a dedup layer knows page 2..N of a series are
    SIBLINGS, not near-duplicates to collapse). First declaration of
    each rel wins; pages with neither are dropped. Same link-tag
    enumeration + gate discipline as ``hreflang_records``; one
    map-side pass, zero shuffle, zero UDF."""
    e = _grammar_rows(pages, _LINK_TAG_RE, 0, scan_bytes)
    rel = F.lower(F.regexp_extract("match", _PAGINATION_REL_RE, 1))
    href = _trim_gate(F.regexp_extract("match", _HREF_VAL_RE, 1),
                      ascii_only=ascii_only)
    per = e.select("url", rel.alias("__rel"), href.alias("__href"), "pos")
    agg = (per.where((F.col("__rel") != "") & F.col("__href").isNotNull())
           .groupBy("url")
           .agg(F.min(F.when(F.col("__rel") == "next",
                             F.struct("pos", "__href"))).alias("__n"),
                F.min(F.when(F.col("__rel") == "prev",
                             F.struct("pos", "__href"))).alias("__v")))
    return (agg.select("url",
                       F.col("__n")["__href"].alias("rel_next"),
                       F.col("__v")["__href"].alias("rel_prev"))
            .filter(F.col("rel_next").isNotNull()
                    | F.col("rel_prev").isNotNull()))


# ---------------------------------------------------------------------------
# schema.org microdata (itemprop / itemtype)
# ---------------------------------------------------------------------------

_MD_PROP_TAG_RE = (r"(?is)<[^>]*[ \t\n\r]itemprop[ \t\n\r]*=[^>]*>"
                   r"[^<]*")
_MD_PROP_VAL_RE = attr_val_re("itemprop")
_MD_CONTENT_VAL_RE = attr_val_re("content", value_cls=r'[^"\'>]*')
_MD_TEXT_RE = r">([^<]*)$"
_MD_TYPE_VAL_RE = attr_val_re("itemtype", in_tag=True)


def _prop_records(pages: DataFrame, tag_re: str, name_re: str, name: str,
                  scan_bytes: int | None, ascii_only: bool) -> DataFrame:
    """(url, pos, <name>, value) over the FLAT attribute-embedded
    grammar shared by microdata and RDFa: a record is a ``tag_re`` tag
    with its immediate tag-free trailing text; value = the tag's
    ``content`` attribute when present, else that text."""
    e = _grammar_rows(pages, tag_re, 0, scan_bytes)
    prop = _trim_gate(F.regexp_extract("match", name_re, 1),
                      ascii_only=ascii_only)
    content = F.nullif(F.regexp_extract("match", _MD_CONTENT_VAL_RE, 1),
                       F.lit(""))
    text = F.regexp_extract("match", _MD_TEXT_RE, 1)
    value = _head_field_finish(F.coalesce(content, text),
                               ascii_only=ascii_only)
    return (e.select("url", "pos", prop.alias(name), value.alias("value"))
            .filter(F.col(name).isNotNull() & F.col("value").isNotNull()))


def _type_records(pages: DataFrame, type_re: str, name: str,
                  scan_bytes: int | None, ascii_only: bool) -> DataFrame:
    """(url, pos, <name>): every ``type_re`` type declaration in
    document order, the value kept verbatim under the gate."""
    e = _grammar_rows(pages, type_re, 1, scan_bytes)
    t = _trim_gate(F.col("match"), ascii_only=ascii_only)
    return (e.select("url", "pos", t.alias(name))
            .filter(F.col(name).isNotNull()))


def microdata_records(pages: DataFrame, *,
                      scan_bytes: int | None = 8192,
                      ascii_only: bool = True) -> DataFrame:
    """(url, pos, itemprop, value) — every ``itemprop`` declaration in
    document order: schema.org MICRODATA, the attribute-embedded twin
    of ``jsonld_records`` (the two cover ~all of schema.org's
    deployment; a structured-data miner reads both).

    One codegen'd ``regexp_extract_all`` over the bounded ISO-8859-1
    prefix decode + a map-side posexplode + per-match extracts — zero
    shuffle, zero UDF. Pinned FLAT grammar (replayed verbatim by the
    DuckDB oracle):

      * a record is any tag carrying a whitespace-preceded
        ``itemprop`` attribute, captured together with its immediate
        tag-free trailing text;
      * value = the tag's ``content`` attribute when present (the
        ``<meta itemprop=.. content=..>`` idiom), else the immediate
        text up to the next tag — child-element values are NOT
        assembled (flat, not DOM-scoped: itemscope NESTING is
        deliberately out of grammar, documented leniency);
      * values are whitespace-collapsed and trimmed; empty drops the
        row leaving ``pos`` holes; under ``ascii_only`` both name and
        value carry the clean-printable portability gate.

    Engine-wide charset discipline: leading-``<`` HTML gate, bounded
    prefix scan, non-HTML payloads never decoded."""
    return _prop_records(pages, _MD_PROP_TAG_RE, _MD_PROP_VAL_RE,
                         "itemprop", scan_bytes, ascii_only)


def microdata_types(pages: DataFrame, *,
                    scan_bytes: int | None = 8192,
                    ascii_only: bool = True) -> DataFrame:
    """(url, pos, itemtype) — every ``itemtype`` declaration in
    document order: the page's self-declared schema.org entity types
    (https://schema.org/Product, .../Article ...), the microdata twin
    of ``jsonld_entities``' @type and the same page-type routing
    signal. Same pinned one-pass grammar/gate discipline as
    ``microdata_records``."""
    return _type_records(pages, _MD_TYPE_VAL_RE, "itemtype", scan_bytes,
                         ascii_only)


# ---------------------------------------------------------------------------
# RDFa (property= / typeof=) — the third structured-data format
# ---------------------------------------------------------------------------

_RDFA_PROP_TAG_RE = (r"(?is)<[^>]*[ \t\n\r]property[ \t\n\r]*=[^>]*>"
                     r"[^<]*")
_RDFA_PROP_VAL_RE = attr_val_re("property")
_RDFA_TYPEOF_VAL_RE = attr_val_re("typeof", in_tag=True)


def rdfa_records(pages: DataFrame, *,
                 scan_bytes: int | None = 8192,
                 ascii_only: bool = True) -> DataFrame:
    """(url, pos, property, value) — every RDFa ``property``
    declaration in document order: the THIRD structured-data format
    next to ``jsonld_records`` and ``microdata_records`` (the three
    cover schema.org's whole deployment; Open Graph is itself an RDFa
    vocabulary, so ``og_metadata``'s fields reappear here — by
    design, this is the generic miner, that is the typed fast path).

    Same pinned FLAT grammar family as ``microdata_records`` with
    ``property`` in place of ``itemprop``: value = the tag's
    ``content`` attribute when present, else the immediate tag-free
    trailing text; whitespace-collapsed, trimmed, empty -> ``pos``
    holes; vocab prefixes (``og:``, ``schema:``) kept verbatim;
    clean-printable gates under ``ascii_only``. One codegen'd
    ``regexp_extract_all`` + map-side posexplode — zero shuffle,
    zero UDF; engine-wide charset discipline."""
    return _prop_records(pages, _RDFA_PROP_TAG_RE, _RDFA_PROP_VAL_RE,
                         "property", scan_bytes, ascii_only)


def rdfa_types(pages: DataFrame, *,
               scan_bytes: int | None = 8192,
               ascii_only: bool = True) -> DataFrame:
    """(url, pos, type_of) — every RDFa ``typeof`` declaration: the
    RDFa twin of ``microdata_types``/``jsonld_entities``' @type. Same
    one-pass grammar/gate discipline."""
    return _type_records(pages, _RDFA_TYPEOF_VAL_RE, "type_of", scan_bytes,
                         ascii_only)


# ---------------------------------------------------------------------------
# hreflang alternates (multilingual mirrors / bitext candidate mining)
# ---------------------------------------------------------------------------

_LINK_TAG_RE = r"(?i)<link[^>]*>"
_REL_ALTERNATE_RE = attr_token_re("rel", "alternate")
_HREFLANG_VAL_RE = attr_val_re("hreflang")
_HREF_VAL_RE = attr_val_re("href")


def hreflang_records(pages: DataFrame, *,
                     scan_bytes: int | None = 8192,
                     ascii_only: bool = True) -> DataFrame:
    """(url, pos, hreflang, href) — every
    ``<link rel="alternate" hreflang=... href=...>`` declaration in
    document order: the page's own statement of its translations, the
    seed signal of the ParaCrawl/CCMatrix bitext-mining recipes and
    the multilingual twin of ``rel=canonical`` (a hreflang cluster is
    one document in N languages — dedup must NOT merge it, alignment
    wants it paired).

    One codegen'd ``regexp_extract_all`` over the bounded ISO-8859-1
    prefix decode + a map-side posexplode — zero shuffle, zero UDF.
    Pinned semantics (replayed verbatim by the DuckDB oracle):

      * ``pos`` numbers ALL ``<link ...>`` tags per url in document
        order; tags without ``rel=alternate`` + ``hreflang`` + ``href``
        (or whose values fail the gate) drop, leaving holes;
      * attributes match in ANY order, case-insensitive, values quoted
        either way or bare (bare values end at whitespace/``>``);
      * the rel test accepts a token LIST whose first token is
        ``alternate`` (``rel="alternate stylesheet"`` matches,
        ``rel="stylesheet alternate"`` does not — documented
        conservatism, first-token hreflang use is universal);
      * ``hreflang`` is lowercased (BCP 47 tags compare
        case-insensitively); ``href`` is kept verbatim — no URL
        resolution here (``linkgraph.resolve_url_col`` composes);
      * under ``ascii_only`` both values carry the clean-printable
        portability gate.

    Follows the engine-wide charset discipline: leading-``<`` HTML
    gate, bounded prefix scan, non-HTML payloads never decoded."""
    e = _grammar_rows(pages, _LINK_TAG_RE, 0, scan_bytes)
    lang = _trim_gate(F.lower(F.regexp_extract("match", _HREFLANG_VAL_RE, 1)),
                      ascii_only=ascii_only)
    href = _trim_gate(F.regexp_extract("match", _HREF_VAL_RE, 1),
                      ascii_only=ascii_only)
    keep = F.col("match").rlike(_REL_ALTERNATE_RE)
    return (e.select("url", "pos",
                     F.when(keep, lang).alias("hreflang"),
                     F.when(keep, href).alias("href"))
            .filter(F.col("hreflang").isNotNull()
                    & F.col("href").isNotNull()))


def bitext_candidates(pages: DataFrame, *, lang_col: str = "lang",
                      scan_bytes: int | None = 8192,
                      ascii_only: bool = True,
                      resolve: bool = False) -> DataFrame:
    """(url, lang, alt_url, alt_hreflang, alt_lang) — in-corpus
    cross-language document pairs: each page's hreflang alternates
    joined back against the corpus itself, keeping targets that were
    actually fetched and whose stored language differs from the
    source page's. This is the candidate-pair table a bitext miner
    (ParaCrawl-style) verifies with sentence/embedding alignment.

    Scale shape: ``hreflang_records`` is map-side; the candidate step
    is ONE url-key equi-join (alternates.href ⋈ pages.url) — both
    sides hash-partition on the url key, sort-merge under AQE, no
    broadcast assumption (both sides are corpus-sized at 100 TB). A
    page declaring the same target in several link tags contributes
    ONE candidate (distinct over the output columns).

    ``resolve=True`` resolves RELATIVE alternate hrefs against the
    declaring page's url first (``linkgraph.resolve_url_col``, RFC
    3986 §5 minus dot-segment normalization) — sites routinely write
    ``href="/fr/page"`` — at the cost of the map-side resolution
    expressions; the default keeps hrefs verbatim (only absolute
    alternates can match, the oracle-pinned behavior)."""
    recs = hreflang_records(pages, scan_bytes=scan_bytes,
                            ascii_only=ascii_only)
    if resolve:
        from ocr_engine_spark.functions.linkgraph import resolve_url_col
        recs = (recs.withColumn(
            "href", resolve_url_col(F.col("href"), F.col("url")))
            .filter(F.col("href").isNotNull()))
    src = pages.select("url", F.col(lang_col).alias("lang"))
    tgt = pages.select(F.col("url").alias("alt_url"),
                       F.col(lang_col).alias("alt_lang"))
    return (recs.join(src, "url")
            .join(tgt, recs["href"] == tgt["alt_url"])
            .filter(F.col("url") != F.col("alt_url"))
            .filter(F.col("lang") != F.col("alt_lang"))
            .select("url", "lang", "alt_url",
                    F.col("hreflang").alias("alt_hreflang"),
                    "alt_lang")
            .distinct())


# ---------------------------------------------------------------------------
# Open Graph metadata (og:title / og:description / og:type / og:image)
# ---------------------------------------------------------------------------

def _og_prop_first(prop: str) -> str:
    return (r'(?i)<meta[^>]*property[ \t\n\r]*=[ \t\n\r]*'
            r'["\']?og:' + prop + r'(?:["\' \t\n\r/])[^>]*'
            r'content[ \t\n\r]*=[ \t\n\r]*["\']?([^"\'>]*)')


def _og_content_first(prop: str) -> str:
    return (r'(?i)<meta[^>]*content[ \t\n\r]*=[ \t\n\r]*'
            r'["\']?([^"\'>]*)'
            r'["\']?[^>]*property[ \t\n\r]*=[ \t\n\r]*'
            r'["\']?og:' + prop + r'(?:["\' \t\n\r/>]|$)')


def og_metadata(pages: DataFrame, *,
                scan_bytes: int | None = 8192,
                ascii_only: bool = True) -> DataFrame:
    """(url, og_title, og_description, og_type, og_image) — the Open
    Graph protocol fields social embeds key on, and a webtext
    pipeline's strongest page-TYPE prior (``og:type=article`` vs
    ``website``/``product`` routes pages between the article-extract
    and listing-discard arms; og:title/description back up
    ``page_metadata`` when a CMS omits plain meta tags).

    Same pinned grammar family as ``page_metadata`` (first match wins
    per field, ``property``/``content`` in either attribute order,
    whitespace-collapsed, empty -> NULL, clean-printable gate under
    ``ascii_only``) and the same engine-wide charset discipline. Pure
    map-side plan (``_first_match_fields``: its two stacked Projects
    keep the 8 extracts under the 64 KB codegen limit), zero shuffle,
    zero UDF."""
    return _first_match_fields(
        pages, {f"og_{p}": (_og_prop_first(p), _og_content_first(p))
                for p in ("title", "description", "type", "image")},
        scan_bytes, ascii_only)


def table_triples(pages: DataFrame, **kwargs) -> DataFrame:
    """Relational triples from crawl tables with HEADER INFERENCE —
    the step after :func:`table_records` that makes WebTables-style
    facts usable: ``(url, table_pos, row_pos, col_pos, header,
    value)`` where ``header`` names the column.

    Pinned header resolution (replayed verbatim by the oracle):

      1. if the table has ``<th>`` cells, the header row is the FIRST
         row containing one, and its cells (th or td) name their
         columns;
      2. else the FIRST-ROW HEURISTIC (the Cafarella et al. 2008
         WebTables recovery move for the many tables that never use
         th): row 0 becomes the header iff the table has >= 2 rows,
         row 0 contains NO numeric cell, and the remaining rows
         contain >= 1 numeric cell (``numeric`` = the pinned
         ``^-?[0-9]+([.,][0-9]+)?$`` grammar — integers/decimals with
         either separator);
      3. else no header row: every row is data and columns fall back
         to positional ``col<N>`` names (also used for data columns
         wider than the header row).

    Data cells are the rows after the header row (all rows when
    none). Shape: the map-side ``table_records`` fan-out, one
    per-table stats aggregate, two joins back on (url, table_pos[,
    col_pos]) — the per-table key is bounded by scan_bytes, so no
    skew.
    """
    rec = table_records(pages, **kwargs)
    num = F.col("cell").rlike(r"^-?[0-9]+([.,][0-9]+)?$")
    r = rec.withColumn("__num", num)
    ts = (r.groupBy("url", "table_pos")
          .agg(F.min(F.when(F.col("is_header"), F.col("row_pos")))
               .alias("__throw"),
               F.max("row_pos").alias("__maxrow"),
               F.sum(F.when((F.col("row_pos") == 0) & F.col("__num"),
                            1).otherwise(0)).alias("__fr_num"),
               F.sum(F.when((F.col("row_pos") > 0) & F.col("__num"),
                            1).otherwise(0)).alias("__data_num")))
    hrow = (F.when(F.col("__throw").isNotNull(), F.col("__throw"))
            .when((F.col("__maxrow") >= 1) & (F.col("__fr_num") == 0)
                  & (F.col("__data_num") >= 1), F.lit(0)))
    ts = ts.select("url", "table_pos", hrow.alias("__hrow"))
    withrow = r.join(ts, ["url", "table_pos"])
    headers = (withrow.filter(F.col("row_pos") == F.col("__hrow"))
               .select("url", "table_pos", "col_pos",
                       F.col("cell").alias("__hname")))
    data = withrow.filter(F.col("__hrow").isNull()
                          | (F.col("row_pos") > F.col("__hrow")))
    return (data.join(headers, ["url", "table_pos", "col_pos"], "left")
            .select("url", "table_pos", "row_pos", "col_pos",
                    F.coalesce(F.col("__hname"),
                               F.concat(F.lit("col"),
                                        F.col("col_pos")))
                    .alias("header"),
                    F.col("cell").alias("value")))


# Wilson score interval (1927) for a binomial rate, z = 1.96 —
# written ONCE as SQL text so the Spark side (F.expr) and the DuckDB
# oracle evaluate byte-identical expression trees: +, *, /, sqrt are
# all IEEE-correctly-rounded on both engines (no libm), so the bounds
# agree bit-for-bit before the single ppm quantization.
WILSON_LOW_SQL = (
    "floor(greatest(0.0, "
    "((__k / __n + (1.96 * 1.96) / (2 * __n)) "
    " - 1.96 * sqrt((__k / __n * (1 - __k / __n) "
    "                + (1.96 * 1.96) / (4 * __n)) / __n)) "
    "/ (1 + (1.96 * 1.96) / __n)) * 1000000 + 0.5)")
WILSON_HIGH_SQL = (
    "floor(least(1.0, "
    "((__k / __n + (1.96 * 1.96) / (2 * __n)) "
    " + 1.96 * sqrt((__k / __n * (1 - __k / __n) "
    "                + (1.96 * 1.96) / (4 * __n)) / __n)) "
    "/ (1 + (1.96 * 1.96) / __n)) * 1000000 + 0.5)")


def host_risk_bounds(df: DataFrame, bad: Column, *,
                     strata_col: str = "source") -> DataFrame:
    """Per-host (per-source) risk rate with Wilson 95% bounds — the
    governance table behind blocklisting decisions: a host with 2/2
    bad pages and a host with 200/200 bad pages both have rate 1.0,
    but only the second's LOWER bound clears an evidence threshold,
    which is exactly the small-sample trap the Wilson interval (1927)
    exists for (and why it beats the normal approximation that
    collapses at k=0 or n<30 — the common case in a host tail).

    ``bad`` is any boolean Column over the rows (quality floor, spam
    classifier verdict, robots violation...). One map-side-combined
    groupBy; the interval math runs on the |hosts|-row aggregate.
    Returns (stratum, n_docs, n_bad, rate_ppm, wilson_low_ppm,
    wilson_high_ppm) — all integer ppm, quantized once.
    """
    agg = (df.groupBy(F.col(strata_col).alias("stratum"))
           .agg(F.count("*").alias("n_docs"),
                F.sum(bad.cast("long")).alias("n_bad")))
    t = (agg.withColumn("__n", F.col("n_docs").cast("double"))
         .withColumn("__k", F.col("n_bad").cast("double")))
    return t.select(
        "stratum", "n_docs", "n_bad",
        F.expr("(n_bad * 1000000) div n_docs").alias("rate_ppm"),
        F.expr(WILSON_LOW_SQL).cast("long").alias("wilson_low_ppm"),
        F.expr(WILSON_HIGH_SQL).cast("long").alias("wilson_high_ppm"))


# ---------------------------------------------------------------------------
# Crawler-trap detection (Heydon & Najork 2001, "Mercator: A scalable,
# extensible Web crawler" — calendar pages, session ids and other
# infinite URL spaces are the classic crawler trap): URLs that are
# DISTINCT as strings but collapse to one path TEMPLATE betray a
# generator, not content.
# ---------------------------------------------------------------------------

_PATHQ_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)"


def url_template_col(url: Column) -> Column:
    """Path+query template: fragment dropped, >=8-char lowercase hex
    runs -> 'H' (session ids, content hashes; NOTE: pure-digit runs
    of >=8 chars are hex-alphabet runs too, so long numeric ids and
    8-digit dates like /archive/20240115 also collapse to 'H' — by
    design, because a lookahead that demands a letter in the run is
    not expressible in RE2 and the rule must replay identically in
    the DuckDB oracle), SHORTER digit runs -> 'N' (pagination, small
    numeric ids), query VALUES -> 'V'. Applied in that pinned order
    so a hex id never half-survives digit collapse. Pure codegen'd
    regexp chain — zero shuffle, zero UDF."""
    pq = F.regexp_extract(url, _PATHQ_RE, 1)
    pq = F.when(pq == "", F.lit("/")).otherwise(pq)
    t = F.regexp_replace(pq, "[0-9a-f]{8,}", "H")
    t = F.regexp_replace(t, "[0-9]+", "N")
    return F.regexp_replace(t, "=[^&#]*", "=V")


def url_trap_report(pages: DataFrame, *, url_col: str = "url",
                    trap_min_urls: int = 8) -> DataFrame:
    """Per-(host, template) URL concentration: (host, template,
    n_urls, host_urls, share_ppm, is_trap) where ``n_urls`` counts
    DISTINCT raw URLs collapsing to the template and ``is_trap``
    flags templates at or above ``trap_min_urls`` — the frontier-
    hygiene table a crawl scheduler reads before burning fetch budget
    on /cal/2024-N-N page N+1.

    Scale shape: the template is a map-side projection; ONE
    (host, template) shuffle with partial-distinct combine, host
    totals by a second bounded rollup joined back on host (templates
    per host are bounded; the join side is host-level, broadcast when
    small, hash otherwise). No payload byte is touched."""
    base = pages.select(
        host_col(F.col(url_col)).alias("host"),
        url_template_col(F.col(url_col)).alias("template"),
        F.col(url_col).alias("__u"))
    per_tpl = (base.groupBy("host", "template")
               .agg(F.countDistinct("__u").alias("n_urls")))
    per_host = (per_tpl.groupBy("host")
                .agg(F.sum("n_urls").alias("host_urls")))
    return (per_tpl.join(per_host, "host")
            .select("host", "template", "n_urls", "host_urls",
                    F.expr("(n_urls * 1000000) div host_urls")
                    .alias("share_ppm"),
                    (F.col("n_urls") >= trap_min_urls)
                    .alias("is_trap")))


def lexicon_scan(df: DataFrame, lexicon: dict[str, list[str]], *,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """C4-style content-lexicon filter (Raffel et al. 2020 dropped any
    page containing a listed word; Dodge et al. 2021 documents what
    that rule costs — which is why this emits COUNTS per category and
    leaves the drop policy to the caller): word-boundary hit counts
    per category, total ppm against token count, and C4's binary
    ``dropped`` flag (>= 1 hit anywhere).

    The lexicon is a plan-time constant: each category compiles to a
    chain of ``regexp_count(lower(text), '\\bword\\b')`` terms — one
    codegen'd map-side projection, zero shuffle, zero UDF, linear in
    corpus bytes regardless of category count. ASCII ``\\b`` agrees
    between Java regex and RE2, so the oracle counts with
    ``len(regexp_extract_all(...))`` verbatim."""
    import re as _re
    t = F.lower(F.col(text_col))
    cat_cols = []
    total = None
    for cat in sorted(lexicon):
        cnt = None
        for w in lexicon[cat]:
            c = F.regexp_count(t, F.lit(rf"\b{_re.escape(w)}\b"))
            cnt = c if cnt is None else cnt + c
        cnt = (cnt if cnt is not None else F.lit(0)).cast("long")
        cat_cols.append(cnt.alias(f"{cat}_hits"))
        total = cnt if total is None else total + cnt
    from ocr_engine_spark.functions.text import token_count_col
    n_tokens = token_count_col(F.col(text_col))
    total = (total if total is not None else F.lit(0)).cast("long")
    out = df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        *cat_cols,
        total.alias("total_hits"),
        (total >= 1).alias("dropped"))
    # exact integer ppm (float-div-then-cast truncation can disagree
    # with SQL floor division on representation edges)
    return out.withColumn(
        "hit_ppm",
        F.expr("(total_hits * 1000000) div greatest(n_tokens, 1)"))


_CARD_CAND_RE = r"\b(?:\d[ -]?){12,18}\d\b"


def luhn_card_report(df: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Credit-card detection with Luhn mod-10 validation (ISO/IEC
    7812 — the checksum separating card numbers from arbitrary digit
    runs; pattern-only PII scanners false-positive on order ids and
    timestamps, which is why code-corpus PII pipelines such as
    BigCode's validate Luhn before redacting): per document,
    ``n_candidates`` (13-19-digit runs allowing single space/dash
    separators) and ``n_valid`` (Luhn-passing).

    The check runs on the exploded candidate rows — rare by
    construction, so the HOF digit fold prices in candidates, not
    corpus bytes; everything else is one map-side regexp scan and a
    (doc) count with map-side combine. Docs without candidates keep a
    zero row via the left join back to the scope."""
    cands = (df.select(F.col(id_col),
                       F.explode(F.regexp_extract_all(
                           F.col(text_col), F.lit(_CARD_CAND_RE), 0))
                       .alias("__raw"))
             .withColumn("__d", F.regexp_replace("__raw", "[ -]", ""))
             .withColumn("__L", F.length("__d"))
             .filter((F.col("__L") >= 13) & (F.col("__L") <= 19)))
    v = lambda j: F.substring(F.col("__d"), j, F.lit(1)).cast("int")
    term = lambda j: F.when(
        F.pmod(F.col("__L") - j, F.lit(2)) == 1,
        F.when(v(j) * 2 > 9, v(j) * 2 - 9).otherwise(v(j) * 2)) \
        .otherwise(v(j))
    luhn_sum = F.aggregate(
        F.transform(F.sequence(F.lit(1), F.col("__L")), term),
        F.lit(0), lambda acc, x: acc + x)
    per_doc = (cands
               .withColumn("__ok", F.pmod(luhn_sum, F.lit(10)) == 0)
               .groupBy(id_col)
               .agg(F.count("*").alias("n_candidates"),
                    F.sum(F.col("__ok").cast("long")).alias("n_valid")))
    return (df.select(id_col).join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_candidates", F.lit(0)).cast("long")
                    .alias("n_candidates"),
                    F.coalesce("n_valid", F.lit(0)).cast("long")
                    .alias("n_valid")))


_NUMBER_RE = r"\b[1-9][0-9]{2,}\b"


def benford_report(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Benford first-digit audit of the corpus's numeric content
    (Benford 1938; Nigrini's fraud-audit usage): naturally-occurring
    multi-digit numbers lead with digit d at probability
    ``log10(1 + 1/d)``; fabricated/synthetic numeric dumps and
    template-generated tables drift toward uniform — a cheap forensic
    read next to tabular_report before trusting scraped numerics.

    Counts numbers of >= 3 digits with a non-zero lead (``\\b``-bound
    so ids inside words don't match); returns one row per digit 1-9:
    (digit, n, share_ppm, benford_ppm, dev_ppm) with
    ``dev_ppm = share_ppm - benford_ppm`` — signed, so systematic
    over/under-representation reads directly. Expected shares are
    plan-time integer constants (micro-quantized log10 on the
    driver); the scan is ONE regexp_extract_all + explode + 9-key
    aggregate — map-side, zero UDF. Digits absent from the corpus
    still get a row (share 0)."""
    import math
    spark = df.sparkSession
    nums = (df.select(F.explode(
        F.regexp_extract_all(F.col(text_col), F.lit(_NUMBER_RE),
                             F.lit(0)))
        .alias("num"))
        .select(F.substring("num", 1, 1).cast("long").alias("digit"))
        .groupBy("digit").agg(F.count("*").alias("n")))
    digits = spark.createDataFrame(
        [(d, int(math.floor(math.log10(1 + 1 / d) * 1e6 + 0.5)))
         for d in range(1, 10)], "digit bigint, benford_ppm bigint")
    total = nums.agg(F.sum("n").alias("__t"))
    return (digits.join(nums, "digit", "left")
            .crossJoin(F.broadcast(total))
            .select("digit",
                    F.coalesce(F.col("n"), F.lit(0)).cast("long")
                    .alias("n"),
                    F.expr("coalesce(n, 0) * 1000000"
                           " div greatest(__t, 1)").alias("share_ppm"),
                    "benford_ppm")
            .withColumn("dev_ppm",
                        F.col("share_ppm") - F.col("benford_ppm"))
            .orderBy("digit"))
