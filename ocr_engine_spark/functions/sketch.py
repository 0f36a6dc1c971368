"""Portable HyperLogLog distinct-count sketch (Flajolet et al. 2007).

Spark ships ``approx_count_distinct`` (HLL++), but its register
layout and estimate are engine-private: the value cannot be replayed
by another engine, merged with registers produced elsewhere, or
asserted in a cross-engine gate. This implementation pins EVERY step
to portable primitives — md5 hashing, integer register extraction via
binary-string length (never ``floor(log2(x))``, whose libm form can
be off-by-one at powers of two), dyadic-rational register sums in
scaled int64 — so the DuckDB oracle reproduces the registers and the
estimate bit-for-bit, and register tables from different systems can
be unioned and max-merged (the HLL merge property) before estimating.

Pinned estimator (every constant a literal in both engines):

* ``h = md5-int60(value)``; bucket ``h % m``; remainder ``r = h div
  m`` over ``60 - b`` bits; ``rho = (60 - b) - bitlen(r) + 1``
  (``bitlen`` = length of the binary string; ``r = 0`` -> the full
  ``61 - b``);
* register ``M_j = max(rho)`` per bucket; empty buckets are
  ``M_j = 0``;
* ``sum_scaled = sum(2^(30 - M_j))`` — the harmonic-mean denominator
  as EXACT dyadic integers (registers above 30 contribute 0; their
  true contribution is < 2^-30 of the sum, far below the sketch's
  own ~1.04/sqrt(m) error, and the cutoff keeps the sum in int64:
  max m * 2^30);
* raw estimate ``alpha_m * m^2 * 2^30 / sum_scaled`` evaluated as one
  pinned double expression over exact integer inputs (IEEE * and /
  are correctly rounded on both engines; no libm call);
* small-range correction (est < 2.5m, zeros > 0): linear counting
  ``m * ln(m / zeros)`` — the one libm call, quantized once like
  drift.py's micro-nat terms.

``alpha_m`` enters as the integer literal ``round(0.7213 / (1 +
1.079 / m) * 1e6)`` computed in Python at plan-build time.

Scale: one groupBy(bucket) with map-side combine over the hashed
column — m rows out regardless of corpus size; the estimate is a
1-row aggregate over the register table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_engine_spark.functions.text import md5_int60_col


def _alpha_micro(m: int) -> int:
    assert m >= 128, "bias constant pinned for m >= 128"
    return round(0.7213 / (1 + 1.079 / m) * 1_000_000)


def _keyed_registers(df: DataFrame, col: str, keys: list[str], *,
                     b: int) -> DataFrame:
    """(*keys, bucket, register): the register state of one sketch per
    key (one global sketch when ``keys`` is empty). One groupBy with
    map-side max-combine — at most |keys| x m rows leave a map task."""
    assert 7 <= int(b) <= 16
    m = 1 << int(b)
    width = 60 - int(b)
    rho = F.when(F.col("__r") == 0, F.lit(width + 1)) \
           .otherwise(F.lit(width)
                      - F.length(F.expr("bin(__r)")).cast("int")
                      + F.lit(1))
    d = (df.select(*keys, md5_int60_col(F.col(col)).alias("__h"))
         .withColumn("__r", F.expr(f"(__h div {m})"))
         .select(*keys, F.pmod(F.col("__h"), F.lit(m)).alias("bucket"),
                 rho.alias("__rho")))
    return (d.groupBy(*keys, "bucket")
            .agg(F.max("__rho").cast("long").alias("register")))


def _keyed_estimate(registers: DataFrame, keys: list[str], *,
                    b: int) -> DataFrame:
    """(*keys, m, n_buckets_hit, n_zero_buckets, sum_scaled, estimate)
    per key from the (*keys, bucket, register) rows of HIT buckets;
    absent buckets are register 0 (one 2^30 term each)."""
    m = 1 << int(b)
    am = _alpha_micro(m)
    agg = registers.groupBy(*keys).agg(
        F.count("*").alias("n_buckets_hit"),
        F.sum(F.expr(
            "CASE WHEN register <= 30 THEN "
            "shiftleft(1L, 30 - cast(register as int)) ELSE 0 END"))
         .alias("__sum_hit"))
    zeros = F.lit(m) - F.col("n_buckets_hit")
    sum_scaled = (F.col("__sum_hit")
                  + zeros.cast("long") * F.lit(1 << 30))
    est_raw = F.expr(
        f"CAST(floor(({am} * 1.0) * {m * m * (1 << 30)} / 1000000.0"
        f" / __ss) AS BIGINT)")
    lc = F.expr(
        f"CAST(floor({m} * ln({m} * 1.0 / __zeros)) AS BIGINT)")
    d = (agg.withColumn("__ss", sum_scaled)
         .withColumn("__zeros", zeros.cast("long"))
         .withColumn("__raw", est_raw))
    est = (F.when((F.col("__raw") < int(2.5 * m))
                  & (F.col("__zeros") > 0), lc)
           .otherwise(F.col("__raw")))
    return d.select(*keys, F.lit(m).cast("long").alias("m"),
                    F.col("n_buckets_hit").cast("long")
                    .alias("n_buckets_hit"),
                    F.col("__zeros").alias("n_zero_buckets"),
                    F.col("__ss").alias("sum_scaled"),
                    est.cast("long").alias("estimate"))


def hll_registers(df: DataFrame, col: str, *, b: int = 10) -> DataFrame:
    """(bucket, register) — the mergeable sketch state. Missing
    buckets mean register 0; ``hll_estimate`` accounts for them."""
    return _keyed_registers(df, col, [], b=b)


def hll_estimate(registers: DataFrame, *, b: int = 10) -> DataFrame:
    """One row: (m, n_buckets_hit, n_zero_buckets, sum_scaled,
    estimate) from a register table (post-merge if unioned: feed
    ``max(register) group by bucket`` of the union)."""
    return _keyed_estimate(registers, [], b=b)


def hll_distinct(df: DataFrame, col: str, *, b: int = 10) -> DataFrame:
    """End-to-end sketch + audit row: the pinned-portable HLL estimate
    next to the exact distinct count and the signed error in ppm —
    the cardinality health check a corpus report publishes (vocab
    size, distinct hosts, distinct fingerprints) when an exact
    count-distinct shuffle is too expensive at full scale. Here the
    exact count runs too (fixture scale) so the error is part of the
    gated output."""
    regs = hll_registers(df, col, b=b)
    est = hll_estimate(regs, b=b)
    exact = df.agg(F.count_distinct(F.col(col)).alias("n_exact"))
    out = est.crossJoin(F.broadcast(exact))
    err = F.expr("((estimate - n_exact) * 1000000) div n_exact")
    return out.select("m", "n_buckets_hit", "n_zero_buckets",
                      "sum_scaled", "estimate",
                      F.col("n_exact").cast("long").alias("n_exact"),
                      err.alias("err_ppm"))


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005) — portable registers
# ---------------------------------------------------------------------------

def _cms_slot(row_col, value_col, w: int):
    """Pinned probe: ``md5-int60(row || US || value) % w``.  The row
    index enters the hash as a decimal string with a US (0x1f)
    separator so d independent-enough hash functions come out of the
    ONE portable primitive; DuckDB twin:
    ``('0x' || substr(md5(row::VARCHAR || chr(31) || v), 1, 15))
    ::BIGINT % w``."""
    probe = F.concat(row_col.cast("string"),
                     F.lit("\x1f"), value_col.cast("string"))
    return F.pmod(md5_int60_col(probe), F.lit(int(w)))


def cms_counters(df: DataFrame, col: str, *, d: int = 4, w: int = 512,
                 weight_col: str | None = None) -> DataFrame:
    """(row, slot, cnt) — the mergeable count-min state, ≤ ``d*w``
    rows regardless of corpus size.

    The frequency-side companion of ``hll_registers``: Spark's own
    ``count_min_sketch`` aggregate emits an opaque binary blob
    (engine-private layout, not queryable relationally); this one is
    a plain integer table another engine can rebuild bit-for-bit,
    union with counters produced elsewhere, and SUM-merge (the CMS
    merge property — counters are linear).

    Scale shape: the d-way ``explode(sequence)`` happens map-side and
    the groupBy's partial aggregation collapses it to at most ``d*w``
    (row, slot) keys per map partition before the shuffle — corpus
    rows never cross the wire.  Item weights (``weight_col``, e.g.
    bytes per host) ride the same path; default weight is 1 (counts).
    """
    assert 1 <= int(d) <= 8 and int(w) >= 16
    wcol = (F.col(weight_col).cast("long") if weight_col
            else F.lit(1).cast("long"))
    rows = (df.select(F.col(col).alias("__v"), wcol.alias("__w"))
            .where(F.col("__v").isNotNull())
            .select("__v", "__w",
                    F.explode(F.sequence(F.lit(0), F.lit(int(d) - 1)))
                    .alias("row")))
    return (rows.select("row",
                        _cms_slot(F.col("row"), F.col("__v"),
                                  int(w)).alias("slot"),
                        "__w")
            .groupBy("row", "slot")
            .agg(F.sum("__w").alias("cnt")))


def cms_estimate(counters: DataFrame, items: DataFrame, col: str, *,
                 d: int = 4, w: int = 512) -> DataFrame:
    """(value, estimate) — point queries against a counter table.

    ``estimate = min over rows of counter[row][slot(row, value)]``;
    a probe landing on an untouched slot reads 0 (left join +
    coalesce), so absent items can resolve to 0 exactly.  The CMS
    guarantee (one-sided): ``estimate >= true`` always, and
    ``estimate <= true + e/w * N`` with probability ``1 - e^-d`` per
    query.  The counter table is ≤ d*w rows — it enters the probe
    join as a broadcast build side, so querying never shuffles the
    item table."""
    probes = (items.select(F.col(col).alias("value"))
              .where(F.col("value").isNotNull()).distinct()
              .select("value",
                      F.explode(F.sequence(F.lit(0),
                                           F.lit(int(d) - 1)))
                      .alias("row")))
    probes = probes.select(
        "value", "row",
        _cms_slot(F.col("row"), F.col("value"), int(w)).alias("slot"))
    joined = probes.join(F.broadcast(counters), ["row", "slot"],
                         "left")
    return (joined.groupBy("value")
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .cast("long").alias("estimate")))


def cms_topk_audit(df: DataFrame, col: str, *, d: int = 4,
                   w: int = 512, k: int = 20) -> DataFrame:
    """End-to-end audit: the exact top-k items (count desc, value asc)
    with their CMS estimates and the one-sided overcount — the
    heavy-hitter health check a corpus report publishes (hot tokens,
    hot hosts, hot fingerprints) when the full key set is too wide to
    shuffle at scale.  Here the exact count runs too (fixture scale)
    so ``overcount = estimate - n_exact >= 0`` is part of the gated
    output."""
    exact = (df.groupBy(F.col(col).alias("value"))
             .agg(F.count("*").cast("long").alias("n_exact"))
             .where(F.col("value").isNotNull())
             .orderBy(F.col("n_exact").desc(), F.col("value").asc())
             .limit(int(k)))
    counters = cms_counters(df, col, d=d, w=w)
    est = cms_estimate(counters, exact, "value", d=d, w=w)
    return (exact.join(est, "value")
            .select("value", "n_exact", "estimate",
                    (F.col("estimate") - F.col("n_exact"))
                    .cast("long").alias("overcount"))
            .orderBy(F.col("n_exact").desc(), F.col("value").asc()))


# ---------------------------------------------------------------------------
# K-minimum-values (KMV) sketch — Bar-Yossef et al. 2002; Beyer et al.
# 2007 ("On synopses for distinct-value estimation under multiset
# operations"): the k smallest distinct hash values of a column are a
# mergeable synopsis supporting distinct-count, union, intersection
# and Jaccard estimates. HLL (above) answers |A| cheaper; KMV answers
# SET-ALGEBRA questions HLL cannot (resemblance of two crawls without
# re-reading either), and its md5-int60 basis makes every step
# bit-replayable cross-engine.
# ---------------------------------------------------------------------------

def kmv_sketch(df: DataFrame, col: str, *, k: int = 64) -> DataFrame:
    """The k smallest DISTINCT md5-int60 hashes of ``col`` — one
    (h) column, ascending. groupBy(h) collapses duplicates with
    map-side combine (shuffle bounded by distinct values, never rows),
    then a TakeOrdered k-min. The result is k rows regardless of
    input size and unions with any other sketch of the same basis."""
    from ocr_engine_spark.functions.text import md5_int60_col
    return (df.select(md5_int60_col(F.col(col)).alias("h"))
            .groupBy("h").agg(F.lit(1).alias("__one")).drop("__one")
            .orderBy(F.col("h").asc()).limit(int(k)))


def kmv_jaccard(sketch_a: DataFrame, sketch_b: DataFrame,
                *, k: int = 64) -> DataFrame:
    """Jaccard estimate from two KMV sketches (Beyer et al. 2007):
    K(U) = the k smallest of K(A) ∪ K(B); est = |K(U) ∩ K(A) ∩ K(B)|
    / |K(U)|. Everything below runs on <= 2k rows. Returns one row
    (n_a, n_b, k_union, n_both, est_jaccard_ppm) with the ppm an
    integer division — exact in both engines."""
    a = sketch_a.select("h", F.lit(1).alias("in_a"),
                        F.lit(0).alias("in_b"))
    b = sketch_b.select("h", F.lit(0).alias("in_a"),
                        F.lit(1).alias("in_b"))
    merged = (a.unionByName(b)
              .groupBy("h").agg(F.max("in_a").alias("in_a"),
                                F.max("in_b").alias("in_b")))
    ku = merged.orderBy(F.col("h").asc()).limit(int(k))
    counts_a = sketch_a.agg(F.count("*").alias("n_a"))
    counts_b = sketch_b.agg(F.count("*").alias("n_b"))
    return (ku.agg(F.count("*").alias("k_union"),
                   F.sum(F.col("in_a") * F.col("in_b"))
                   .cast("long").alias("n_both"))
            .crossJoin(F.broadcast(counts_a))
            .crossJoin(F.broadcast(counts_b))
            .select("n_a", "n_b", "k_union", "n_both",
                    F.expr("(n_both * 1000000) div k_union")
                    .alias("est_jaccard_ppm")))


# ---------------------------------------------------------------------------
# Bottom-k uniform value sample -> quantile estimates. The hash-rank
# sample is the KMV idea pointed at VALUES instead of distinct hashes
# (a deterministic reservoir: the k rows with the smallest md5-int60
# row keys are a uniform sample, and the k-min of two samples' union
# is the sample of the union — mergeable across shards/snapshots the
# way approx_percentile's private state is not).
# ---------------------------------------------------------------------------

def value_sample_sketch(df: DataFrame, value_col: str, *,
                        id_col: str, k: int = 128) -> DataFrame:
    """(h, v): the ``k`` rows with the smallest md5-int60(id), hash
    kept for mergeability and deterministic tie-order. One TakeOrdered
    over a map-side projection — no full sort, no shuffle of the
    corpus."""
    from ocr_engine_spark.functions.text import md5_int60_col
    return (df.select(md5_int60_col(F.col(id_col).cast("string"))
                      .alias("h"),
                      F.col(value_col).alias("v"))
            .orderBy(F.col("h").asc()).limit(int(k)))


def sketch_quantiles(sketch: DataFrame,
                     pcts: list[int]) -> DataFrame:
    """Type-1 quantile per requested integer percent from the sample:
    the value at rank ``greatest(1, ceil(p * n / 100))`` in (v, h)
    order. Runs entirely on the k-row sketch (the single-partition
    window is bounded by k)."""
    from pyspark.sql import Window
    w = Window.orderBy(F.col("v").asc(), F.col("h").asc())
    ranked = (sketch.withColumn("__r", F.row_number().over(w))
              .crossJoin(F.broadcast(
                  sketch.agg(F.count("*").alias("__n")))))
    parts = []
    for p in pcts:
        r = F.greatest(F.lit(1),
                       F.ceil(F.lit(int(p)) * F.col("__n") / F.lit(100)))
        parts.append(ranked.filter(F.col("__r") == r)
                     .select(F.lit(int(p)).alias("pct"),
                             F.col("v").alias("est_value")))
    out = parts[0]
    for q in parts[1:]:
        out = out.unionByName(q)
    return out


def hll_grouped_distinct(df: DataFrame, group_col: str, col: str, *,
                         b: int = 10) -> DataFrame:
    """Per-GROUP portable HLL cardinality — the sketch composed along
    a dimension (distinct tokens per language, distinct URLs per
    host): register state keyed (group, bucket) so the shuffle
    carries at most ``groups x m`` rows with map-side max-combine,
    every group's estimate from the same pinned expressions as the
    global sketch, and per-group register tables from different
    systems still max-merge before estimating. The exact distinct
    runs alongside (fixture scale) for the gated err_ppm audit.
    Returns one row per group: (group, m, n_buckets_hit,
    n_zero_buckets, sum_scaled, estimate, n_exact, err_ppm)."""
    est = _keyed_estimate(_keyed_registers(df, col, [group_col], b=b),
                          [group_col], b=b)
    exact = (df.groupBy(group_col)
             .agg(F.count_distinct(F.col(col)).alias("n_exact")))
    err = F.expr("((estimate - n_exact) * 1000000) div n_exact")
    return est.join(exact, group_col).select(
        group_col, "m", "n_buckets_hit", "n_zero_buckets", "sum_scaled",
        "estimate", F.col("n_exact").cast("long").alias("n_exact"),
        err.alias("err_ppm"))


def hll_growth_curve(df: DataFrame, bucket_col: str, col: str, *,
                     b: int = 10) -> DataFrame:
    """Cumulative distinct-value curve via PREFIX-MAX of HLL registers
    — the sketch path for ``vocab_growth`` at 100 TB, where the exact
    first-occurrence argmin over every token is the thing that does
    not fit: sketch union is register max, so the running per-bucket
    max over time order IS the union of all earlier buckets' sketches,
    and each time bucket's estimate comes from the same pinned
    expressions as ``hll_distinct``.

    Plan shape: register state is (time_bucket, hash_bucket) max-rho —
    ONE shuffle bounded by buckets x m with map-side max-combine; the
    cumulative max windows PARTITION BY hash bucket (m partitions of
    <= n_time_buckets rows, never corpus-sized); the per-time-bucket
    estimator aggregates the m-row grid. The exact cumulative distinct
    runs alongside for the fixture-scale err audit — it is precisely
    the side that would not scale.

    Returns (bucket, m, estimate, n_exact_cum, err_ppm) ordered by
    bucket."""
    from pyspark.sql import Window
    m = 1 << int(b)
    regs = _keyed_registers(
        df.select(F.col(bucket_col).alias("tb"), F.col(col)), col, ["tb"],
        b=b)
    tbs = df.select(F.col(bucket_col).alias("tb")).distinct()
    grid = tbs.select(
        "tb", F.explode(F.sequence(F.lit(0), F.lit(m - 1)))
        .alias("bucket"))
    w = (Window.partitionBy("bucket").orderBy("tb")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # the running per-bucket max IS the union of every earlier time
    # bucket's sketch; zero registers are absent buckets to the estimator
    cum = (grid.join(regs, ["tb", "bucket"], "left")
           .select("tb", "bucket",
                   F.max(F.coalesce(F.col("register"), F.lit(0)))
                   .over(w).alias("register"))
           .where(F.col("register") > 0))
    est = _keyed_estimate(cum, ["tb"], b=b)
    # exact cumulative distinct: first-occurrence bucket per value,
    # then an inequality join against the bounded bucket table
    firsts = (df.select(F.col(bucket_col).alias("ftb"),
                        F.col(col).alias("__v"))
              .groupBy("__v").agg(F.min("ftb").alias("ftb")))
    cexact = (tbs.join(firsts, F.col("ftb") <= F.col("tb"))
              .groupBy("tb")
              .agg(F.count("*").cast("long").alias("n_exact_cum")))
    err = F.expr("((estimate - n_exact_cum) * 1000000)"
                 " div n_exact_cum")
    return (est.join(cexact, "tb")
            .select(F.col("tb").alias("bucket"), "m", "estimate",
                    "n_exact_cum", err.alias("err_ppm"))
            .orderBy("bucket"))
