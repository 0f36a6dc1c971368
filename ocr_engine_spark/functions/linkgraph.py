"""Host-level web link graph: outlink extraction, edge list, PageRank.

A crawl corpus is a graph, and the graph is a first-class training-data
signal: Common Crawl publishes host-level PageRank/harmonic-centrality
ranks with every crawl, GPT-3's WebText recipe selected pages by link
popularity, and crawl frontiers are prioritized by exactly these
scores. This module derives that signal from the pages table itself:

  * ``outlink_hrefs_col`` — href extraction from raw HTML payload
    bytes, entirely in JVM codegen'd expressions (decode + one
    ``regexp_extract_all``): no UDF, no shuffle, pipelined into the
    parquet scan. Byte-transparent ISO-8859-1 decode + a leading-``<``
    gate, the ``scrub._html_head`` discipline — legacy
    charsets keep their ASCII hrefs verbatim and PDF payloads are
    never decoded.
  * ``outlink_records`` / ``host_edges`` — exploded per-link records
    with resolved absolute target urls, and the (src_host, dst_host,
    n_links) edge aggregate: ONE shuffle with map-side partial counts;
    at 10^12 pages the edge table is the only thing that moves.
  * ``pagerank`` — iterative damped PageRank in INTEGER FIXED-POINT
    micro-units over DataFrame joins. Floats are the classic
    distributed-PageRank reproducibility bug: float sums depend on
    reduce order, so two runs (or two cluster sizes) disagree in the
    low bits and downstream rank thresholds flap. Integer mass is
    associative-commutative exactly, so ranks are bit-identical
    regardless of partitioning, parallelism, or AQE decisions — and
    DuckDB can replay every iteration verbatim (the oracle does).

Scale notes (1000-executor / 10^12-page reading):
  * extraction is map-only; the host-pair aggregate partial-combines
    per map task, so the shuffle carries |distinct host pairs| per
    partition, not |links|;
  * each PageRank iteration is two key shuffles (rank join on src,
    contribution sum on dst) + one broadcast of a 1-row dangling-mass
    aggregate; on a real cluster bucket the edge table by ``src`` so
    the rank join is Exchange-free and only the dst-sum shuffles;
  * ``localCheckpoint`` per iteration truncates the otherwise
    exponentially-growing lineage (cluster.py:connected_components
    discipline); on an unreliable-storage cluster switch to
    ``setCheckpointDir`` + reliable ``checkpoint`` at the same site;
  * hot hosts (everyone links to google.com) skew the dst-sum; AQE
    skew-join handles the join side, and the sum itself partial-
    aggregates, so no salting is needed — the reducer sees one row
    per (map partition, hot host).

Regex, not DOM, on purpose: the extraction kernel's DOM pass
(kernels/html_extract.py) is for byte-identical TEXT; link harvesting
only needs anchors, and a single codegen'd regex over the raw payload
is ~an order of magnitude cheaper than a second DOM pass at corpus
scale. Known approximations are documented on each function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ocr_engine_spark.functions.portability import is_portable_ascii
from ocr_engine_spark.functions.scrub import (
    _grammar_rows, _html_head, host_col,
)

#: shared Java/RE2 pattern: an ``<a>`` tag's (first) href value,
#: captured WITH its quotes (group 1) so quote stripping is a separate,
#: engine-portable step. Explicit ``[ \t\n\r]`` classes, never ``\s``
#: (Java ``\s`` includes ``\x0B``, RE2's does not — scrub.py:308), and
#: a lazy ``[^>]*?`` so the FIRST href attribute in the tag wins (and
#: ``data-href=`` can't match: the optional run must END in whitespace
#: right before the ``href`` token).
A_HREF_RE = (r"(?i)<a[ \t\n\r]([^>]*?[ \t\n\r])?href[ \t\n\r]*=[ \t\n\r]*"
             r"(\"[^\"]*\"|'[^']*'|[^ \t\n\r>]+)")
_HREF_GROUP = 2

#: full anchor element (href = group 2, inner text = group 3). Anchor
#: TEXT may be non-ASCII, so queries that want oracle parity gate it
#: with the same clean-printable filter (see anchor_term_profile's
#: ascii_only).
A_ELEM_RE = (r"(?is)<a[ \t\n\r]([^>]*?[ \t\n\r])?href[ \t\n\r]*=[ \t\n\r]*"
             r"(\"[^\"]*\"|'[^']*'|[^ \t\n\r>]+)[^>]*>(.*?)</a>")

#: schemes that never yield a fetchable http(s)-style target
_NON_FETCH_RE = r"(?i)^(javascript|mailto|data|tel|about):"


def strip_quotes_col(v: Column) -> Column:
    """``"x"``/``'x'`` -> ``x``; bare values pass through. (The capture
    keeps quotes so this step is identical in Spark and DuckDB.)"""
    first = F.substring(v, 1, 1)
    inner = F.substring(v, 2, F.length(v) - F.lit(2))
    return F.when((first == F.lit('"')) | (first == F.lit("'")), inner) \
            .otherwise(v)


def clean_ascii_href(href: Column) -> Column:
    """True for non-empty hrefs that pass the shared portability gate
    (printable-ASCII, no backslash) — see
    :mod:`ocr_engine_spark.functions.portability` for why the gate is
    the anchor-free negated-class form (Java ``$`` matches before a
    trailing U+0085/U+2028/U+2029/newline; RE2 ``$`` does not).
    """
    return is_portable_ascii(href) & (href != F.lit(""))


def outlink_hrefs_col(html: Column, *, scan_bytes: int | None = None
                      ) -> Column:
    """Array of raw href values in an HTML payload (NULL for non-HTML
    payloads — gated on the leading ``<`` byte so PDF bytes are never
    decoded). Quote-stripped, filtered to clean printable-ASCII, order
    preserved, duplicates kept (dedupe is the caller's policy).
    ``scan_bytes`` bounds the decode for prefix-only uses; the default
    decodes the full payload (links live in the body)."""
    s, is_html = _html_head(html, scan_bytes)
    quoted = F.regexp_extract_all(s, F.lit(A_HREF_RE),
                                  F.lit(_HREF_GROUP))
    hrefs = F.filter(F.transform(quoted, strip_quotes_col),
                     clean_ascii_href)
    return F.when(is_html, hrefs)


def target_host_col(href: Column, src_host: Column) -> Column:
    """Host the href points at: absolute -> its own (lowercased) host,
    protocol-relative -> the given host, root-/path-relative -> the
    source host, fragments and non-fetch schemes -> NULL. This is the
    edge-building resolution — it never materializes the full url."""
    return (F.when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"),
                   host_col(href))
            .when(href.startswith("//"),
                  F.lower(F.regexp_extract(href, r"^//([^/?#]+)", 1)))
            .when(href.rlike(_NON_FETCH_RE), F.lit(None))
            .when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:"),
                  F.lit(None))  # other non-hierarchical schemes
            .when(href.startswith("#"), F.lit(None))
            .otherwise(src_host))


def resolve_url_col(href: Column, base_url: Column) -> Column:
    """Absolute target url for a href against its page url (RFC 3986
    §5 reference resolution, minus dot-segment normalization — ``..``
    segments are kept literal, a documented conservative approximation:
    two spellings of one resource stay distinct rather than risking a
    wrong merge). Fragments-only refs and non-fetch schemes -> NULL."""
    scheme = F.regexp_extract(base_url,
                              r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    origin = F.regexp_extract(base_url,
                              r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    no_qf = F.regexp_replace(base_url, r"[?#].*$", "")
    # directory of the base path; origin-only urls get a '/' root
    base_dir = F.when(F.length(F.regexp_replace(no_qf, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")) == 0,
                      F.concat(origin, F.lit("/"))) \
                .otherwise(F.regexp_replace(no_qf, r"[^/]*$", ""))
    return (F.when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), href)
            .when(href.startswith("//"),
                  F.concat(scheme, F.lit(":"), href))
            .when(href.rlike(_NON_FETCH_RE), F.lit(None))
            .when(href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:"), F.lit(None))
            .when(href.startswith("#"), F.lit(None))
            .when(href.startswith("/"), F.concat(origin, href))
            .when(href.startswith("?"), F.concat(no_qf, href))
            .otherwise(F.concat(base_dir, href)))


def outlink_records(pages: DataFrame) -> DataFrame:
    """(url, href, target_url) — one row per extracted link, resolved
    to an absolute target. Map-only: decode + regex + explode, no
    shuffle; Catalyst prunes the scan to (url, html)."""
    from ocr_engine_spark.functions.generate import explode_nonull
    hrefs = outlink_hrefs_col(F.col("html"))
    # explode_nonull: a plain explode would re-evaluate the whole href
    # grammar in a Catalyst-inferred guard filter (see generate.py)
    return (explode_nonull(pages, hrefs, "href", "url")
            .withColumn("target_url",
                        resolve_url_col(F.col("href"), F.col("url")))
            .where(F.col("target_url").isNotNull()))


def anchor_records(pages: DataFrame) -> DataFrame:
    """(url, href, target_url, anchor_text) — links WITH their anchor
    text (inner tags stripped, whitespace collapsed). Anchor text is
    the classic target-page relevance signal (it describes the page it
    points AT); aggregate it per target to build a queryable signal
    table (anchor_term_profile — whose ascii_only mode makes the whole
    path blob-escape-oracle-portable despite non-ASCII anchor text)."""
    out = (_grammar_rows(pages, A_ELEM_RE, 0, None)
           .select("url",
                   strip_quotes_col(
                       F.regexp_extract("match", A_ELEM_RE, 2))
                   .alias("href"),
                   F.trim(F.regexp_replace(
                       F.regexp_replace(
                           F.regexp_extract("match", A_ELEM_RE, 3),
                           r"<[^>]*>", " "),
                       r"[ \t\n\r]+", " ")).alias("anchor_text")))
    return (out.where(clean_ascii_href(F.col("href")))
            .withColumn("target_url",
                        resolve_url_col(F.col("href"), F.col("url")))
            .where(F.col("target_url").isNotNull())
            .select("url", "href", "target_url", "anchor_text"))


def anchor_term_profile(pages: DataFrame, *, top_k: int = 5,
                        ascii_only: bool = False) -> DataFrame:
    """(dst_host, term, n_term, pos) — the ``top_k`` most frequent
    anchor-text terms pointing AT each host. Anchor text describes the
    page it points at (the classic search-engine relevance signal and
    a WebText-style quality cue); aggregating it per target host gives
    a queryable signal table for crawl prioritization and labeling.

    One shuffle for the (host, term) count (map-side partial agg), one
    for the per-host top-k window — the window partitions on dst_host,
    so groups are bounded by a host's distinct anchor vocabulary, never
    by corpus size. ``ascii_only`` drops records whose anchor text
    isn't printable-ASCII (the oracle-portability regime — see
    clean_ascii_href); the default keeps all text."""
    a = anchor_records(pages)
    if ascii_only:
        a = a.where(is_portable_ascii(F.col("anchor_text")))
    from ocr_engine_spark.functions.generate import explode_nonull
    toks = (explode_nonull(a,
                           F.split(F.lower(F.col("anchor_text")),
                                   r"[^a-z0-9]+"), "term",
                           host_col(F.col("target_url"))
                           .alias("dst_host"))
            .where((F.col("term") != F.lit(""))
                   & (F.col("dst_host") != F.lit(""))))
    counts = toks.groupBy("dst_host", "term").agg(
        F.count(F.lit(1)).alias("n_term"))
    from pyspark.sql import Window
    w = (Window.partitionBy("dst_host")
         .orderBy(F.desc("n_term"), F.asc("term")))
    return (counts.withColumn("pos", F.row_number().over(w))
            .where(F.col("pos") <= top_k))


def host_edges(pages: DataFrame, *,
               keep_self_loops: bool = True) -> DataFrame:
    """(src_host, dst_host, n_links) host-level edge aggregate over the
    corpus. One shuffle (the groupBy partial-combines map-side); the
    href explode and host resolution are pipelined into the scan."""
    src = host_col(F.col("url"))
    hrefs = outlink_hrefs_col(F.col("html"))
    from ocr_engine_spark.functions.generate import explode_nonull
    e = (explode_nonull(pages, hrefs, "href", src.alias("src_host"))
         .select("src_host",
                 target_host_col(F.col("href"),
                                 F.col("src_host")).alias("dst_host"))
         .where(F.col("dst_host").isNotNull()
                & (F.col("dst_host") != F.lit(""))
                & (F.col("src_host") != F.lit(""))))
    if not keep_self_loops:
        e = e.where(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links"))


#: total rank mass in fixed-point units: 1e12 keeps six significant
#: digits of rank for graphs up to ~1e6 nodes per unit of precision
#: lost to integer division; bump for bigger graphs.
PAGERANK_SCALE = 1_000_000_000_000


def crawl_frontier(pages: DataFrame, ranks: DataFrame, *,
                   now_epoch: int, per_host_budget: int = 2,
                   top_n: int = 100, url_col: str = "url",
                   ts_col: str = "warc_ts",
                   rank_col: str = "rank",
                   robots: DataFrame | None = None) -> DataFrame:
    """(url, host, rank_micro, staleness_h, priority, host_pos) — the
    re-crawl frontier: which urls to fetch next, closing the crawl
    loop (extract -> link graph -> rank -> SCHEDULE). Priority is
    integer ``(rank_micro + 1e6) * max(staleness_hours, 1)`` — host
    importance (PageRank/harmonic micro-units from this module) scaled
    by how stale our copy is; the +1e6 teleport floor keeps unranked
    hosts ordered by staleness instead of collapsing to priority 0. A
    missing timestamp counts as epoch 0 (never crawled -> maximal
    staleness). All integer arithmetic: the schedule is reproducible
    across cluster sizes, like every rank in this module.

    Politeness: at most ``per_host_budget`` urls per host (row_number
    over a per-host window — group size is a host's url count; hot
    hosts sort within one partition, the standard top-k-per-key shape)
    then a global deterministic top-``top_n``
    (TakeOrderedAndProject, no global sort).

    ``ranks`` is (node, rank) host-keyed — a dim table against the
    url-keyed pages side. Not broadcast-hinted on purpose: at web
    scale |hosts| is itself huge; AQE picks broadcast when it fits.

    ``now_epoch`` is an explicit epoch-seconds literal, never wall
    clock — schedules must be replayable.

    ``robots`` optionally takes a (url, allowed) decisions table
    (functions/robots.py:robots_decisions): disallowed urls never
    enter the schedule; urls ABSENT from the table stay schedulable
    (RFC 9309 default-allow, the robots module's own convention).
    """
    from pyspark.sql import Window
    cand = pages.select(
        F.col(url_col).alias("url"),
        host_col(F.col(url_col)).alias("host"),
        F.coalesce(F.unix_timestamp(F.col(ts_col)),
                   F.lit(0)).alias("__ts"))
    if robots is not None:
        blocked = (robots.where(~F.col("allowed"))
                   .select(F.col("url").alias("url")))
        cand = cand.join(blocked, "url", "left_anti")
    r = ranks.select(F.col("node").alias("host"),
                     F.col(rank_col).alias("rank_micro"))
    scored = (cand.join(r, "host", "left")
              .withColumn("rank_micro",
                          F.coalesce("rank_micro",
                                     F.lit(0).cast("long")))
              .withColumn("staleness_h", F.expr(
                  f"greatest(({now_epoch} - __ts) div 3600,"
                  f" CAST(1 AS BIGINT))"))
              .withColumn("priority", F.expr(
                  "(rank_micro + 1000000) * staleness_h")))
    w = Window.partitionBy("host").orderBy(F.desc("priority"), "url")
    return (scored.withColumn("host_pos", F.row_number().over(w))
            .where(F.col("host_pos") <= per_host_budget)
            .orderBy(F.desc("priority"), "url")
            .limit(top_n)
            .select("url", "host", "rank_micro", "staleness_h",
                    "priority", "host_pos"))


#: KMV sketch hash domain: md5_int60 div 2^15 -> uniform in [0, 2^45).
#: Chosen so the estimator's (k-1) * DOMAIN product stays far inside a
#: long for k up to ~2^17; at 10^9 nodes the expected 45-bit collision
#: count (~n^2 / 2^46) perturbs estimates by ~1e-5 relative — noise
#: against the sketch's own 1/sqrt(k-2) error.
KMV_DOMAIN = 1 << 45


def harmonic_centrality(edges: DataFrame, *, src: str = "src_host",
                        dst: str = "dst_host", iterations: int = 5,
                        k: int = 32) -> DataFrame:
    """(node, reach_est, harmonic_micro) — harmonic centrality
    H(v) = sum over u of 1/d(u, v) (incoming distances, truncated at
    ``iterations`` hops), the rank Common Crawl publishes as its
    primary host ranking, estimated HyperBall-style (Boldi & Vigna,
    "In-Core Computation of Geometric Centralities with HyperBall",
    2013): iterate ball sketches over in-edges, read |ball_t(v)| off
    the sketch each round, and accumulate (|ball_t| - |ball_{t-1}|)/t.

    Sketches are K-MINIMUM-VALUES instead of HyperBall's HyperLogLog
    registers, on purpose: a KMV sketch is a sorted array of the k
    smallest 45-bit node hashes in the ball, so every operation —
    union (concat + distinct + sort + slice), cardinality read
    ((k-1) * 2^45 div kth_min, or the EXACT length while the ball
    still fits in k), delta accumulation in integer micro-units — is
    integer-exact, reduce-order independent, bit-identical across
    cluster sizes, and replayable verbatim in the SQL oracle. Balls
    smaller than k are counted EXACTLY (small/medium-site centralities
    have zero sketch error; only mega-ball estimates carry the
    ~1/sqrt(k-2) relative error).

    Scale shape per iteration: one shuffle moving (dst, sketch) pairs
    (k longs each — bounded state, like HyperBall's registers), one
    groupBy merging sketches, localCheckpoint lineage truncation.
    ``iterations`` bounds the distance horizon; the web graph's
    effective diameter is small (~12), and truncated harmonic at t
    hops is itself a standard centrality (all farther nodes contribute
    < 1/t each).

    Self-loops contribute nothing (v is already in its own ball at
    distance 0) and are dropped from propagation; their endpoints stay
    in the node set (reach 1, harmonic 0 — isolated, not absent), the
    same convention as pagerank.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if k < 4:
        raise ValueError("k must be >= 4")
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    nodes = (e0.select(F.col("s").alias("node"))
             .unionByName(e0.select(F.col("d").alias("node")))
             .distinct())
    e = (e0.where(F.col("s") != F.col("d"))
         .distinct()
         .persist())
    from ocr_engine_spark.functions.text import md5_int60_col

    def est_col(sk: Column) -> Column:
        # exact while the ball fits; (k-1)-th order statistic otherwise
        return (F.when(F.size(sk) < k, F.size(sk).cast("long"))
                .otherwise(F.expr(
                    f"({k - 1} * CAST({KMV_DOMAIN} AS BIGINT))"
                    f" div greatest(element_at(sk, {k}),"
                    f" CAST(1 AS BIGINT))")))

    # init: ball_0(v) = {v}; prev_est = 1 (v itself, distance 0);
    # 45-bit hash via integer div (float division of 60-bit longs
    # would lose precision past 2^53)
    state = (nodes
             .withColumn("__h60", md5_int60_col(F.col("node")))
             .withColumn("sk", F.array(F.expr("__h60 div 32768")))
             .drop("__h60")
             .withColumn("prev_est", F.lit(1).cast("long"))
             .withColumn("h_micro", F.lit(0).cast("long"))
             .localCheckpoint())
    for t in range(1, iterations + 1):
        ssel = state.select("node", "sk")
        contrib = (e.join(ssel, e["s"] == ssel["node"])
                   .select(F.col("d").alias("node"), "sk"))
        # collect_list order is nondeterministic; distinct+sort+slice
        # makes the merged sketch a pure SET function of its inputs
        merged = (state.select("node", "sk").unionByName(contrib)
                  .groupBy("node")
                  .agg(F.slice(F.array_sort(F.array_distinct(
                      F.flatten(F.collect_list("sk")))), 1, k)
                      .alias("sk")))
        state = (state.select("node", "prev_est", "h_micro")
                 .join(merged, "node")
                 .withColumn("__est", est_col(F.col("sk")))
                 .select("node", "sk",
                         F.col("__est").alias("prev_est"),
                         (F.col("h_micro")
                          + F.expr("((__est - prev_est) * 1000000)"
                                   f" div {t}")).alias("h_micro"))
                 .localCheckpoint())
    e.unpersist()
    return state.select("node",
                        F.col("prev_est").alias("reach_est"),
                        F.col("h_micro").alias("harmonic_micro"))


def pagerank(edges: DataFrame, *, src: str = "src_host",
             dst: str = "dst_host", weight: str | None = None,
             iterations: int = 10, damping_pct: int = 85,
             scale: int = PAGERANK_SCALE) -> DataFrame:
    """(node, rank) damped PageRank over distinct directed edges, in
    integer fixed-point (``rank`` is a long in units of 1/scale of the
    total mass; ranks of a graph sum to ~scale, minus a bounded
    integer-truncation loss of < 1 unit per node per division).

    Deterministic BY CONSTRUCTION across partitioning, parallelism and
    reduce order — every operation is integer add / integer div — so
    two cluster sizes produce bit-identical ranks, and DuckDB replays
    the whole iteration chain verbatim in the oracle. Self-loops are
    dropped from PROPAGATION (the standard convention) but their
    endpoints stay in the node set — a host that only links to itself
    is a dangling node with teleport-level rank, not an absent one.
    Dangling mass (nodes with no out-edges) is redistributed uniformly
    each iteration, computed as a 1-row aggregate broadcast back onto
    the nodes — never a driver read inside the loop.

    ``damping_pct`` is the damping factor in integer percent (85 =
    the canonical 0.85), keeping the teleport arithmetic exact.

    ``weight`` names an integer edge-weight column (e.g. ``n_links``
    from host_edges): a node's rank splits over out-edges in
    proportion ``(rank * w) div sum_w`` instead of evenly — still pure
    integer arithmetic. Weights must be positive; parallel (src, dst)
    rows are summed into one weighted edge. The
    rank*weight product must fit a long: rank <= scale (1e12 default),
    so per-node weight sums up to ~9e6 are safe — host-level link
    counts, not raw-page multiplicities.
    """
    return _damped_rank(edges, None, src=src, dst=dst, weight=weight,
                        iterations=iterations, damping_pct=damping_pct,
                        scale=scale, out="rank")


def _damped_rank(edges: DataFrame, seeds: DataFrame | None, *, src: str,
                 dst: str, weight: str | None, iterations: int,
                 damping_pct: int, scale: int, out: str) -> DataFrame:
    """(node, <out>): the integer damped-rank iteration shared by
    :func:`pagerank` (``seeds=None``: every node is a seed) and
    :func:`trustrank` (``seeds``: a one-column ``node`` table). Seeds
    start and teleport with ``scale div n_seeds`` mass each and receive
    the dangling mass, ``dangling div n_seeds`` per seed; non-seeds
    start at 0 and gain only link contributions. With every node a
    seed this is exactly PageRank's uniform start, teleport and
    dangling redistribution."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    wcol = (F.col(weight).cast("long") if weight is not None
            else F.lit(1).cast("long"))
    e0 = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                      wcol.alias("w"))
    nodes = (e0.select(F.col("s").alias("node"))
             .unionByName(e0.select(F.col("d").alias("node")))
             .distinct()
             .persist())
    e = e0.where(F.col("s") != F.col("d"))
    if weight is None:
        e = e.distinct()
    else:
        e = e.groupBy("s", "d").agg(F.sum("w").alias("w"))
    e = e.persist()
    if seeds is None:
        marked = nodes.withColumn("is_seed", F.lit(True))
        ns = nodes.count()  # driver scalar: graph metadata, 1 value
        if ns == 0:
            return nodes.withColumn(out, F.lit(0).cast("long"))
    else:
        # seeds outside the graph carry no mass
        sd = (seeds.distinct().join(nodes, "node")
              .withColumn("is_seed", F.lit(True)))
        marked = nodes.join(F.broadcast(sd), "node", "left").persist()
        ns = marked.where(F.col("is_seed")).count()  # driver scalar
        if ns == 0:
            raise ValueError("no seed intersects the graph's node set")
    # out-mass denominator: weight sum (== out-degree when unweighted)
    deg = e.groupBy(F.col("s").alias("node")).agg(
        F.sum("w").alias("deg"))
    base = scale // ns
    tele = (base * (100 - damping_pct)) // 100
    ranks = (marked.select(
        "node",
        F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0))
        .cast("long").alias(out))
        .localCheckpoint())
    for _ in range(iterations):
        r = ranks.join(deg, "node", "left")
        linked = r.where(F.col("deg").isNotNull())
        shares = (e.join(linked, e["s"] == linked["node"])
                  .select(F.col("d").alias("node"),
                          F.expr(f"({out} * w) div deg").alias("share")))
        contrib = shares.groupBy("node").agg(
            F.sum("share").alias("contrib"))
        dangling = (r.where(F.col("deg").isNull())
                    .agg(F.coalesce(F.sum(out), F.lit(0))
                         .alias("dangling")))
        ranks = (marked.join(contrib, "node", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select(
                     "node",
                     (F.when(F.col("is_seed"), F.lit(tele))
                      .otherwise(F.lit(0)).cast("long")
                      + F.expr(
                          f"({damping_pct} * (coalesce(contrib,"
                          f" CAST(0 AS BIGINT)) + CASE WHEN is_seed"
                          f" THEN dangling div {ns} ELSE 0 END))"
                          f" div 100"))
                     .cast("long").alias(out))
                 .localCheckpoint())
    e.unpersist()
    nodes.unpersist()
    marked.unpersist()
    return ranks


def graph_stats(edges: DataFrame, *, src: str = "src_host",
                dst: str = "dst_host") -> DataFrame:
    """ONE-ROW crawl-graph health report: (n_nodes, n_edges,
    n_self_loops, n_dangling, max_out_deg, max_in_deg, n_reciprocal,
    reciprocity_micro). The gate a 100 TB link-graph job publishes
    before anyone trusts PageRank numbers built on it: a reciprocity
    spike means a link farm / mirror mesh got in, a dangling-fraction
    spike means the frontier outran the crawl, a max-degree explosion
    means a hub host needs salting downstream.

    Conventions match :func:`pagerank`: edges are DISTINCT directed
    pairs, self-loops counted separately and excluded from every other
    stat, dangling = nodes with no (non-loop) out-edge. ``n_reciprocal``
    counts directed edges whose reverse also exists (so a mutual pair
    contributes 2); ``reciprocity_micro = n_reciprocal * 1e6 div
    n_edges``. Plan: degree aggregates + one self-equi-join on the
    (small) edge list, 1-row aggregates crossJoined — the node set is
    never shuffled twice."""
    e0 = edges.select(F.col(src).alias("s"),
                      F.col(dst).alias("d")).distinct()
    loops = e0.filter(F.col("s") == F.col("d")) \
        .agg(F.count("*").alias("n_self_loops"))
    e = e0.filter(F.col("s") != F.col("d")).persist()
    nodes = (e0.select(F.col("s").alias("node"))
             .unionByName(e0.select(F.col("d").alias("node")))
             .distinct())
    nn = nodes.agg(F.count("*").alias("n_nodes"))
    ne = e.agg(F.count("*").alias("n_edges"))
    outd = (e.groupBy("s").agg(F.count("*").alias("od"))
            .agg(F.coalesce(F.max("od"), F.lit(0)).cast("long")
                 .alias("max_out_deg"),
                 F.count("*").alias("n_linked")))
    ind = (e.groupBy("d").agg(F.count("*").alias("idg"))
           .agg(F.coalesce(F.max("idg"), F.lit(0)).cast("long")
                .alias("max_in_deg")))
    a, b = e.alias("a"), e.alias("b")
    recip = (a.join(b, (F.col("a.s") == F.col("b.d"))
                    & (F.col("a.d") == F.col("b.s")))
             .agg(F.count("*").alias("n_reciprocal")))
    out = (nn.crossJoin(F.broadcast(ne))
           .crossJoin(F.broadcast(loops))
           .crossJoin(F.broadcast(outd))
           .crossJoin(F.broadcast(ind))
           .crossJoin(F.broadcast(recip))
           .select(
               "n_nodes", "n_edges", "n_self_loops",
               (F.col("n_nodes") - F.col("n_linked")).cast("long")
               .alias("n_dangling"),
               "max_out_deg", "max_in_deg", "n_reciprocal",
               F.when(F.col("n_edges") <= 0, F.lit(0))
               .otherwise(F.expr("(n_reciprocal * 1000000)"
                                 " div n_edges"))
               .cast("long").alias("reciprocity_micro")))
    return out


def hits(edges: DataFrame, *, src: str = "src_host",
         dst: str = "dst_host", iterations: int = 5,
         scale: int = 1_000_000) -> DataFrame:
    """(node, hub, auth) — Kleinberg's HITS (Kleinberg 1999, "Hubs and
    authorities") in integer fixed-point with L1 normalization: per
    iteration ``auth_raw(v) = sum of hub over in-edges`` then
    ``auth = auth_raw * scale div sum(auth_raw)`` (and symmetrically
    for hubs), so each vector re-sums to ~``scale`` minus bounded
    truncation. Like :func:`pagerank` every operation is integer
    add / multiply / div — ranks are bit-identical across
    partitioning, parallelism and reduce order (the 4N-executor
    reproducibility property) and DuckDB replays the unrolled
    iteration chain verbatim.

    Plan shape: two edge-join + groupBy rounds per iteration (auth
    pass, hub pass) — the same edge-aggregate shuffle as PageRank,
    twice — plus two 1-row normalization aggregates broadcast back;
    ``localCheckpoint`` per iteration caps the lineage like pagerank's.

    Overflow bound: the normalization multiply needs
    ``auth_raw * scale < 2^63``. Hubs start at ``scale div n`` (L1
    mass ~scale, not n*scale), so ``auth_raw <= max_in_degree *
    scale`` and the product is safe while ``max_degree * scale^2 <
    9.2e18`` — at the default micro-unit scale that is ~9e6 in-links
    to ONE node from this host-level graph; lower ``scale`` for
    denser graphs. Self-loops are dropped from propagation, endpoints
    stay in the node set with zero-filled scores.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .where(F.col("s") != F.col("d"))
         .distinct()
         .persist())
    nodes = (edges.select(F.col(src).alias("node"))
             .unionByName(edges.select(F.col(dst).alias("node")))
             .distinct()
             .persist())
    n = nodes.count()  # driver scalar: graph metadata, 1 value
    if n == 0:
        return nodes.select("node",
                            F.lit(0).cast("long").alias("hub"),
                            F.lit(0).cast("long").alias("auth"))
    hub = (nodes.withColumn("hub", F.lit(scale // n).cast("long"))
           .localCheckpoint())
    auth = None
    for _ in range(iterations):
        araw = (e.join(hub, e["s"] == hub["node"])
                .groupBy(F.col("d").alias("node"))
                .agg(F.sum("hub").alias("araw")))
        ta = araw.agg(F.coalesce(F.sum("araw"), F.lit(0)).alias("ta"))
        auth = (nodes.join(araw, "node", "left")
                .crossJoin(F.broadcast(ta))
                .select("node",
                        F.when(F.col("ta") <= 0, F.lit(0))
                        .otherwise(F.expr(
                            f"(coalesce(araw, CAST(0 AS BIGINT))"
                            f" * {scale}) div ta"))
                        .cast("long").alias("auth"))
                .localCheckpoint())
        hraw = (e.join(auth, e["d"] == auth["node"])
                .groupBy(F.col("s").alias("node"))
                .agg(F.sum("auth").alias("hraw")))
        th = hraw.agg(F.coalesce(F.sum("hraw"), F.lit(0)).alias("th"))
        hub = (nodes.join(hraw, "node", "left")
               .crossJoin(F.broadcast(th))
               .select("node",
                       F.when(F.col("th") <= 0, F.lit(0))
                       .otherwise(F.expr(
                           f"(coalesce(hraw, CAST(0 AS BIGINT))"
                           f" * {scale}) div th"))
                       .cast("long").alias("hub"))
               .localCheckpoint())
    out = hub.join(auth, "node")
    e.unpersist()
    nodes.unpersist()
    return out


def trustrank(edges: DataFrame, seeds: DataFrame, *,
              src: str = "src_host", dst: str = "dst_host",
              seed_col: str = "node", weight: str | None = None,
              iterations: int = 10, damping_pct: int = 85,
              scale: int = PAGERANK_SCALE) -> DataFrame:
    """(node, trust) — TrustRank (Gyöngyi, Garcia-Molina & Pedersen
    2004, "Combating web spam with TrustRank"): PageRank whose teleport
    vector is concentrated on a TRUSTED SEED set instead of uniform, so
    trust decays with link distance from the seeds and spam farms — far
    from any seed — end up with trust << their PageRank. Same integer
    fixed-point contract as :func:`pagerank` (bit-identical across
    partitioning/parallelism, DuckDB-replayable): seeds each start and
    teleport with ``scale div n_seeds`` mass; dangling mass returns to
    the seeds, not the whole graph.

    ``seeds`` is a DataFrame (column ``seed_col``) because real seed
    lists are curated tables, not literals; it is counted once for the
    split arithmetic (driver scalar, graph metadata) and broadcast into
    the membership join. Nodes absent from the edge set are ignored
    even if listed as seeds. The usual spam-mass workflow pairs this
    with :func:`pagerank`: ``spam_mass = (pr - trust) / pr``.
    """
    return _damped_rank(edges, seeds.select(F.col(seed_col).alias("node")),
                        src=src, dst=dst, weight=weight,
                        iterations=iterations, damping_pct=damping_pct,
                        scale=scale, out="trust")


def crawl_schedule(pages: DataFrame, *, n_shards: int = 8,
                   delay_ms: int = 1000, service_ms: int = 100,
                   url_col: str = "url") -> DataFrame:
    """Fetcher-fleet schedule: assign every host to one of ``n_shards``
    fetcher shards and bound each shard's drain time — the capacity-
    planning step between crawl_frontier (WHAT to fetch) and the
    fetcher fleet (HOW LONG it takes).

    Two integer lower bounds per shard, drain = the binding one:

    - ``polite_bound_ms`` = max over the shard's hosts of
      ``n_urls * delay_ms`` — RFC 9309-style per-host politeness makes
      a hot host a SERIAL chain no fleet size can parallelize (the
      crawl-side twin of the salted-agg skew story: you can split a
      hot KEY's aggregation, but you cannot split its crawl).
    - ``throughput_bound_ms`` = shard total ``n_urls * service_ms`` —
      the fetcher's own service capacity if it fetched back-to-back.

    Host -> shard via the portable md5 60-bit hash (same primitive as
    every bucketing in this repo), so the assignment is reproducible
    across engines and cluster sizes. One groupBy(host) + one
    groupBy(shard) — no windows, no joins; |shards| rows out.
    """
    from ocr_engine_spark.functions.text import md5_int60_col
    hosts = (pages
             .select(host_col(F.col(url_col)).alias("host"))
             .where(F.col("host") != "")
             .groupBy("host").agg(F.count("*").alias("n_urls"))
             .withColumn("shard",
                         F.pmod(md5_int60_col(F.col("host")),
                                F.lit(int(n_shards))).cast("int")))
    return (hosts.groupBy("shard")
            .agg(F.count("*").alias("n_hosts"),
                 F.sum("n_urls").alias("n_urls"),
                 F.max("n_urls").alias("hottest_host_urls"),
                 (F.max("n_urls") * delay_ms).alias("polite_bound_ms"),
                 (F.sum("n_urls") * service_ms)
                  .alias("throughput_bound_ms"))
            .withColumn("drain_ms", F.greatest("polite_bound_ms",
                                               "throughput_bound_ms"))
            .orderBy("shard"))


def recrawl_intervals(df: DataFrame, *, id_col: str = "user_id",
                      ts_col: str = "ts",
                      state_col: str = "event_type",
                      min_ms: int = 60_000,
                      max_ms: int = 7 * 24 * 3_600_000) -> DataFrame:
    """Per-page re-crawl interval estimation from observation history
    (the Cho & Garcia-Molina 2003 freshness-scheduling motif, integer
    form): a page's observations are its fetches in time order; a
    CHANGE is a fetch whose observed state differs from the previous
    fetch's.  The scheduler then revisits each page about once per
    observed change: ``recrawl_ms = span_ms div max(n_changes, 1)``,
    clamped to [min_ms, max_ms] so never-changing pages don't starve
    and hot pages don't melt the fetcher.

    Integer contract: timestamps enter as unix MILLIS (``unix_millis``
    here, ``epoch_ms`` in the DuckDB twin — both truncate the
    microsecond part identically); ``change_ppm = n_changes * 1e6 div
    (n_obs - 1)`` is the per-interval change probability in ppm.
    Pages with a single observation report NULL change_ppm and the
    max_ms interval (nothing is known; crawl lazily).

    Scale: one (page, ts) window for the lag — a page's history is
    bounded (fetch counts, not corpus size), so the window partition
    is small by construction — then one groupBy(page).
    """
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy(ts_col, "event_id") \
        if "event_id" in df.columns else \
        Window.partitionBy(id_col).orderBy(ts_col)
    # parquet timestamps arrive NTZ; the session runs UTC, so the cast
    # reads the wall clock as UTC — exactly DuckDB's epoch_ms(ntz)
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    d = (df.withColumn("__ms", ms)
         .withColumn("__prev", F.lag(state_col).over(w))
         .withColumn("__chg",
                     (F.col("__prev").isNotNull()
                      & (F.col(state_col) != F.col("__prev")))
                     .cast("long")))
    agg = (d.groupBy(F.col(id_col).alias("page_id"))
           .agg(F.count("*").alias("n_obs"),
                F.sum("__chg").alias("n_changes"),
                (F.max("__ms") - F.min("__ms")).alias("span_ms")))
    change_ppm = F.expr(
        "CASE WHEN n_obs > 1 THEN "
        "(n_changes * 1000000) div (n_obs - 1) END")
    raw = F.expr(
        f"CASE WHEN n_obs > 1 THEN span_ms div "
        f"CASE WHEN n_changes > 1 THEN n_changes ELSE 1 END "
        f"ELSE {int(max_ms)} END")
    recrawl = F.least(F.greatest(raw, F.lit(int(min_ms))),
                      F.lit(int(max_ms)))
    return agg.select("page_id", "n_obs", "n_changes", "span_ms",
                      change_ppm.alias("change_ppm"),
                      recrawl.cast("long").alias("recrawl_ms"))


_TEXT_URL_RE = r"""https?://[^\s<>"')\]}]+"""


def text_urls(df: DataFrame, *, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Bare URLs in PLAIN TEXT — the discovery channel for corpora
    with no markup left (forum dumps, chat logs, extracted text):
    one codegen'd ``regexp_extract_all`` over a pinned RE2/Java-
    portable grammar (scheme + non-delimiter run), trailing
    sentence punctuation stripped AFTER the match (the standard
    linkifier convention — 'see https://x/y.' must not keep the
    dot). Returns (id, pos, url, host); map-side fan-out, no
    shuffle. The href harvester (host_edges) covers markup; this
    covers prose."""
    from ocr_engine_spark.functions.scrub import host_col
    raws = F.regexp_extract_all(F.col(text_col), F.lit(_TEXT_URL_RE), 0)
    from ocr_engine_spark.functions.generate import posexplode_nonull
    ex = posexplode_nonull(df, raws, "pos", "__raw", F.col(id_col))
    url = F.regexp_replace(F.col("__raw"), r"[.,;:!?]+$", "")
    return ex.select(id_col, F.col("pos").cast("long").alias("pos"),
                     url.alias("url"),
                     host_col(url).alias("host"))
