"""robots.txt compliance as DataFrame ops (RFC 9309 matching).

The crawl-politeness twin of `scrub.meta_robots_col`: robots.txt is the
HOST-level opt-out (the meta tag is the page-level one). A lawful
corpus rebuild must be able to re-audit fetch permission for every url
it ingests — at 10^12 urls that is a join problem, not a per-url
library call, so both the parser and the matcher are pure
`pyspark.sql` expressions (windows + chained `replace`), replayable
in any SQL engine and free of per-row Python.

Semantics implemented (documented subset of RFC 9309 / Google's
matcher):
  * group = run of consecutive ``User-agent:`` lines + following rules;
    a later ``User-agent:`` line after rules starts a new group; every
    group whose agent set contains the requested agent contributes
    rules (exact agent-token match or ``*`` — no longest-prefix agent
    resolution).
  * rule precedence: the longest matching PATTERN wins (octet length);
    on a tie, ``Allow`` beats ``Disallow``. No matching rule (or no
    robots.txt for the host) = allowed.
  * patterns are implicitly left-anchored; ``*`` matches any char run;
    a trailing ``$`` anchors the url end; comments (``#``) stripped.
  * the matched "url" is path + query (everything after the authority,
    before the fragment), '/' when empty.

Reference analog: none — the reference service receives uploads and
never crawls (`main.py`); this layer exists for the Common-Crawl-style
ingest the graft brief targets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


_REGEX_SPECIALS = ".^$+?()[]{}|"  # escaped in patterns ('\\' first)


def robots_path_col(url: Column) -> Column:
    """path + query of a url ('/' when empty), the string robots
    patterns match against."""
    p = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)",
                         1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def robots_pattern_regex(pattern: Column) -> Column:
    """Translate a robots pattern into an anchored regex via a chain of
    literal `replace` calls — the same chain is replayed verbatim in
    the DuckDB oracle, so both engines match with identical regexes.
    Only `*` (any run) and a TRAILING `$` (end anchor) are special;
    everything else is literal."""
    ends = F.endswith(pattern, F.lit("$"))
    body = F.when(ends,
                  pattern.substr(F.lit(1), F.length(pattern) - 1)) \
            .otherwise(pattern)
    esc = F.replace(body, F.lit("\\"), F.lit("\\\\"))
    for ch in _REGEX_SPECIALS:
        esc = F.replace(esc, F.lit(ch), F.lit("\\" + ch))
    esc = F.replace(esc, F.lit("*"), F.lit(".*"))
    return F.concat(F.lit("^"), esc,
                    F.when(ends, F.lit("$")).otherwise(F.lit("")))


def parse_robots(robots: DataFrame, *, host_col: str = "host",
                 body_col: str = "robots_txt",
                 agent: str = "*") -> DataFrame:
    """robots.txt bodies -> (host, allow, pattern, plen, regex, rule_pos)
    for the groups addressing ``agent``.

    All window work partitions by host — a robots body is KB-sized, so
    per-host line counts are bounded and the parse is one narrow
    shuffle of (host, line) rows regardless of corpus scale.
    """
    agent_lc = agent.lower()
    from ocr_engine_spark.functions.generate import posexplode_nonull
    lines = (posexplode_nonull(robots, F.split(body_col, r"\r?\n"),
                               "pos", "line",
                               F.col(host_col).alias("host"))
             .withColumn("line",
                         F.trim(F.regexp_replace("line", "#.*$", "")))
             .withColumn("field",
                         F.lower(F.trim(F.regexp_extract(
                             "line", r"^([^:]+):", 1))))
             .withColumn("value",
                         F.trim(F.regexp_extract("line", r"^[^:]+:(.*)$",
                                                 1)))
             .where(F.col("field").isin("user-agent", "allow",
                                        "disallow")))
    w = Window.partitionBy("host").orderBy("pos")
    is_ua = F.col("field") == "user-agent"
    blocks = (lines
              .withColumn("__start",
                          (is_ua & ~F.coalesce(F.lag(is_ua).over(w),
                                               F.lit(False)))
                          .cast("int"))
              .withColumn("block_id", F.sum("__start").over(w)))
    applies = (blocks
               .where(is_ua)
               .groupBy("host", "block_id")
               .agg(F.max((F.lower(F.col("value")) == agent_lc)
                          | (F.col("value") == "*"))
                    .alias("__applies"))
               .where("__applies"))
    rules = (blocks.where(~is_ua)
             # RFC 9309: an EMPTY pattern ("Disallow:" — the canonical
             # allow-all robots.txt) is a no-op rule, not a match-all;
             # translating '' to regex '^' would invert it and block
             # the whole host
             .where(F.col("value") != "")
             .join(applies.select("host", "block_id"),
                   ["host", "block_id"])
             .select("host",
                     (F.col("field") == "allow").alias("allow"),
                     F.col("value").alias("pattern"),
                     F.length("value").alias("plen"),
                     F.col("pos").alias("rule_pos")))
    return rules.withColumn("regex",
                            robots_pattern_regex(F.col("pattern")))


def robots_decisions(pages: DataFrame, robots: DataFrame, *,
                     url_col: str = "url", host_col: str = "host",
                     body_col: str = "robots_txt",
                     agent: str = "*") -> DataFrame:
    """Per-url fetch-permission audit: (url, allowed, matched_pattern).

    Scale shape: the parsed rule table is robots-corpus-sized (a few
    rules per host) and enters as the BROADCAST side; pages fan out
    only to their own host's rules, the match filter runs map-side, and
    the argmax groupBy is the one page-keyed shuffle (map-side combined
    — a host with a million pages never concentrates on one task).
    Urls with no matching rule (or no robots.txt) default to allowed.
    """
    from ocr_engine_spark.functions.scrub import host_col as host_of
    rules = parse_robots(robots, host_col=host_col, body_col=body_col,
                         agent=agent)
    pg = pages.select(F.col(url_col).alias("url"),
                      host_of(F.col(url_col)).alias("host"),
                      robots_path_col(F.col(url_col)).alias("__path"))
    hits = (pg.join(F.broadcast(rules), "host")
            .where(F.expr("__path RLIKE regex"))
            .groupBy("url")
            .agg(F.max_by(
                F.struct("allow", "pattern"),
                # longest pattern wins; allow beats disallow on ties;
                # (pattern, first-occurrence) close the total order
                F.struct(F.col("plen"),
                         F.col("allow").cast("int"),
                         F.col("pattern"),
                         -F.col("rule_pos"))).alias("m")))
    return (pg.join(hits, "url", "left")
            .select("url",
                    F.coalesce(F.col("m.allow"), F.lit(True))
                     .alias("allowed"),
                    F.coalesce(F.col("m.pattern"), F.lit("(default)"))
                     .alias("matched_pattern")))


def filter_robots_disallowed(pages: DataFrame, robots: DataFrame,
                             **kw) -> DataFrame:
    """Keep only urls the robots policy allows for ``agent``."""
    dec = robots_decisions(pages, robots, **kw)
    url_col = kw.get("url_col", "url")
    # left_semi: duplicate urls in pages (multi-crawl revisions) must
    # filter, not multiply — an inner join against the per-row decision
    # table would emit n*m rows per duplicated url
    return pages.join(dec.where("allowed")
                      .select(F.col("url").alias(url_col)),
                      url_col, "left_semi")


# ---------------------------------------------------------------------------
# sitemaps (crawl discovery: robots.txt declarations + sitemap XML)
# ---------------------------------------------------------------------------

def sitemap_declarations(robots: DataFrame, *, host_col: str = "host",
                         body_col: str = "robots_txt") -> DataFrame:
    """(host, pos, sitemap_url) — every ``Sitemap:`` declaration in
    each robots.txt, in line order. Per RFC 9309 §2.3 the field lives
    OUTSIDE user-agent groups and applies to all agents, so no group
    resolution is involved: one narrow line explode, comment strip,
    case-insensitive field match, trimmed absolute-url value (empty ->
    dropped, leaving ``pos`` holes over the declaration lines only).
    Zero joins, zero UDF — the discovery seed for ``sitemap_records``.
    """
    from ocr_engine_spark.functions.generate import posexplode_nonull
    return (posexplode_nonull(robots, F.split(body_col, r"\r?\n"),
                              "__lp", "line",
                              F.col(host_col).alias("host"))
            .withColumn("line",
                        F.trim(F.regexp_replace("line", "#.*$", "")))
            .where(F.lower(F.trim(F.regexp_extract(
                "line", r"^([^:]+):", 1))) == "sitemap")
            .select("host",
                    F.col("__lp").cast("long").alias("pos"),
                    F.nullif(F.trim(F.regexp_extract(
                        "line", r"^[^:]+:(.*)$", 1)), F.lit(""))
                    .alias("sitemap_url"))
            .where(F.col("sitemap_url").isNotNull()))


_SM_URL_BLOCK_RE = r"(?is)<url(?:>|[ \t\n\r][^>]*>)(.*?)</url[ \t\n\r]*>"
_SM_IDX_BLOCK_RE = (r"(?is)<sitemap(?:>|[ \t\n\r][^>]*>)(.*?)"
                    r"</sitemap[ \t\n\r]*>")
_SM_LOC_RE = r"(?is)<loc[ \t\n\r]*>([^<]*)</loc"
_SM_LASTMOD_RE = r"(?is)<lastmod[ \t\n\r]*>([^<]*)</lastmod"


def sitemap_records(sitemaps: DataFrame, *, url_col: str = "url",
                    body_col: str = "body") -> DataFrame:
    """(url, kind, pos, loc, lastmod) — every ``<url>`` entry and every
    ``<sitemap>`` index entry of each sitemap document:
    the site's OWN url inventory plus recency hints, the highest-yield
    crawl-discovery source after the link graph (locs seed
    ``linkgraph.crawl_frontier``; lastmod is the staleness signal).

    Input is a STRING body column (sitemaps are fetched small and
    decoded upstream). Pinned grammar, RE2-safe (no backreferences)
    and replayed verbatim by the DuckDB oracle:

      * a block is lazy ``<url>``/``<url ...>`` .. first ``</url>``
        (same for ``<sitemap>``); the container element is NOT
        validated — a ``<url>`` block inside a ``<sitemapindex>``
        still parses with kind='url' (documented leniency);
      * ``loc``/``lastmod`` are the FIRST tag-free occurrences inside
        the block, trimmed; an empty or missing ``<loc>`` drops the
        row, leaving a ``pos`` hole; ``lastmod`` stays a string (W3C
        datetime parsing composes downstream — ``to_timestamp``);
      * ``pos`` numbers blocks PER KIND per document in document
        order.

    Two codegen'd ``regexp_extract_all`` passes + map-side posexplodes
    unioned — zero shuffle, zero UDF."""
    body = F.col(body_col)

    def _kind(block_re: str, kind: str) -> DataFrame:
        from ocr_engine_spark.functions.generate import (
            posexplode_nonull,
        )
        e = posexplode_nonull(
            sitemaps, F.regexp_extract_all(body, F.lit(block_re),
                                           F.lit(1)),
            "pos", "__b", F.col(url_col).alias("url"))
        loc = F.nullif(F.trim(F.regexp_extract("__b", _SM_LOC_RE, 1)),
                       F.lit(""))
        lastmod = F.nullif(F.trim(F.regexp_extract("__b", _SM_LASTMOD_RE,
                                                   1)), F.lit(""))
        return e.select("url", F.lit(kind).alias("kind"),
                        F.col("pos").cast("long").alias("pos"),
                        loc.alias("loc"), lastmod.alias("lastmod"))

    return (_kind(_SM_URL_BLOCK_RE, "url")
            .unionByName(_kind(_SM_IDX_BLOCK_RE, "sitemap"))
            .where(F.col("loc").isNotNull()))


# ---------------------------------------------------------------------------
# RSS / Atom feeds (the third crawl-discovery source after links and
# sitemaps: feeds surface NEW urls with publish timestamps first)
# ---------------------------------------------------------------------------

_FEED_ITEM_BLOCK_RE = (r"(?is)<item(?:>|[ \t\n\r][^>]*>)(.*?)"
                       r"</item[ \t\n\r]*>")
_FEED_ENTRY_BLOCK_RE = (r"(?is)<entry(?:>|[ \t\n\r][^>]*>)(.*?)"
                        r"</entry[ \t\n\r]*>")
_FEED_TITLE_RE = r"(?is)<title(?:>|[ \t\n\r][^>]*>)([^<]*)</title"
_FEED_LINK_TEXT_RE = r"(?is)<link[ \t\n\r]*>([^<]*)</link"
_FEED_LINK_HREF_RE = (r'(?is)<link[^>]*[ \t\n\r]href[ \t\n\r]*='
                      r'[ \t\n\r]*["\']?([^"\' \t\n\r>]+)')
_FEED_PUBDATE_RE = r"(?is)<pubDate[ \t\n\r]*>([^<]*)</pubDate"
_FEED_UPDATED_RE = r"(?is)<updated[ \t\n\r]*>([^<]*)</updated"


def feed_records(feeds: DataFrame, *, url_col: str = "url",
                 body_col: str = "body") -> DataFrame:
    """(url, kind, pos, title, link, published) — every RSS ``<item>``
    and Atom ``<entry>`` of each feed document: the freshest
    crawl-discovery source (feeds announce new urls with timestamps
    before the link graph or sitemaps see them; ``published`` feeds
    ``crawl_frontier``'s staleness signal).

    String body column, same discipline as ``sitemap_records``.
    Pinned grammar, RE2-safe and replayed verbatim by the DuckDB
    oracle:

      * a block is lazy ``<item>``/``<item ...>`` .. first ``</item>``
        (kind='rss') or ``<entry>`` .. ``</entry>`` (kind='atom');
        the surrounding channel/feed element is not validated;
      * ``title`` = first tag-free ``<title>`` text in the block,
        whitespace-collapsed (CDATA is NOT unwrapped — documented
        leniency: a CDATA title contains ``<`` and simply fails the
        tag-free capture);
      * ``link`` = first tag-free ``<link>text</link>`` (the RSS
        form), else the first ``<link ... href=..>`` attribute (the
        Atom form) — both probed in BOTH kinds, coalesced in that
        order;
      * ``published`` = first ``<pubDate>`` text, else first
        ``<updated>`` text, kept as an RFC822/W3C string for
        downstream casting;
      * all values trimmed; a row with NO link drops, leaving a
        per-kind ``pos`` hole; title/published may be NULL.

    Two codegen'd ``regexp_extract_all`` passes + map-side posexplodes
    unioned — zero shuffle, zero UDF."""
    body = F.col(body_col)

    def _kind(block_re: str, kind: str) -> DataFrame:
        from ocr_engine_spark.functions.generate import (
            posexplode_nonull,
        )
        e = posexplode_nonull(
            feeds, F.regexp_extract_all(body, F.lit(block_re),
                                        F.lit(1)),
            "pos", "__b", F.col(url_col).alias("url"))
        title = F.nullif(F.trim(F.regexp_replace(
            F.regexp_extract("__b", _FEED_TITLE_RE, 1),
            r"[ \t\n\r]+", " ")), F.lit(""))
        link = F.coalesce(
            F.nullif(F.trim(F.regexp_extract("__b", _FEED_LINK_TEXT_RE,
                                             1)), F.lit("")),
            F.nullif(F.trim(F.regexp_extract("__b", _FEED_LINK_HREF_RE,
                                             1)), F.lit("")))
        published = F.coalesce(
            F.nullif(F.trim(F.regexp_extract("__b", _FEED_PUBDATE_RE,
                                             1)), F.lit("")),
            F.nullif(F.trim(F.regexp_extract("__b", _FEED_UPDATED_RE,
                                             1)), F.lit("")))
        return e.select("url", F.lit(kind).alias("kind"),
                        F.col("pos").cast("long").alias("pos"),
                        title.alias("title"), link.alias("link"),
                        published.alias("published"))

    return (_kind(_FEED_ITEM_BLOCK_RE, "rss")
            .unionByName(_kind(_FEED_ENTRY_BLOCK_RE, "atom"))
            .where(F.col("link").isNotNull()))


#: leading whitespace boundary (like scrub._IMG_SRC_RE) so data-type=
#: never counts as a real type declaration
_FEED_TYPE_RE = (r'(?i)[ \t\n\r]type[ \t\n\r]*=[ \t\n\r]*'
                 r'["\']?application/(?:rss|atom)\+xml')


def feed_links(pages: DataFrame, *,
               scan_bytes: int | None = 8192,
               ascii_only: bool = True) -> DataFrame:
    """(url, pos, feed_url) — every
    ``<link ... type="application/rss+xml|atom+xml" href=..>``
    feed-autodiscovery declaration in each HTML page head: how a
    crawler finds the feeds ``feed_records`` then parses. Reuses
    scrub's link-tag enumeration discipline (pos numbers ALL link
    tags with holes, any attribute order, bounded ISO-8859-1 prefix
    decode, leading-``<`` PDF gate, clean-printable gate under
    ``ascii_only``) — one map-side regexp_extract_all + posexplode,
    zero shuffle, zero UDF."""
    from ocr_engine_spark.functions.scrub import (
        _HREF_VAL_RE, _LINK_TAG_RE, _grammar_rows, _trim_gate,
    )
    e = _grammar_rows(pages, _LINK_TAG_RE, 0, scan_bytes)
    href = _trim_gate(F.regexp_extract("match", _HREF_VAL_RE, 1),
                      ascii_only=ascii_only)
    keep = F.col("match").rlike(_FEED_TYPE_RE)
    return (e.select("url", "pos", F.when(keep, href).alias("feed_url"))
            .filter(F.col("feed_url").isNotNull()))
