r"""Deduplication operators for web-scale corpora.

Five families, each scalable-by-construction:

  * exact          — hash groupBy on a normalized fingerprint (1 shuffle)
  * ngram Jaccard  — word-shingle explode + equi-join; exact but
                     quadratic per shingle bucket: the VERIFIER, run on
                     bounded scopes / as ground truth for LSH recall
  * MinHash + LSH  — signature via built-in array ops (xxhash64 +
                     universal hashing), banded bucketing, candidates
                     from same-bucket equi-join: the 100 TB path — cost
                     is O(docs x perms) map-side + one shuffle on
                     (band_id, band_hash)
  * SimHash        — 64-bit sign-aggregated token hashes, hamming via
                     bit_count(xor); entirely built-in expressions
  * embedding cosine near-dup — see functions/similarity.py

No Python UDFs anywhere: signatures/shingles are Catalyst higher-order
array functions (transform/filter/aggregate/zip_with) over JVM types.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ocr_engine_spark.functions.text import (
    fingerprint_col, md5_int60_col, normalized_col, tokens_col,
)

# universal-hash constants for MinHash permutations (fixed seed story:
# h_i(x) = (a_i * x + b_i) mod p — classic Broder MinHash). p = 2^31-1
# keeps every product under 2^62: no int64 overflow under ANSI mode.
MERSENNE_P = (1 << 31) - 1


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    import random
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
            for _ in range(num_perm)]


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-equal (normalized) documents: one shuffle on the
    128-bit fingerprint, map-side partial agg for free."""
    return (df
            .select(fingerprint_col(F.col(text_col)).alias("fp"),
                    F.col(id_col))
            .groupBy("fp")
            .agg(F.count("*").alias("n_dups"),
                 F.min(id_col).alias("keep_id"))
            .filter(F.col("n_dups") > 1))


def drop_exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Idempotent keep-one-per-fingerprint (A7 guard for resume)."""
    return df.withColumn("__fp", fingerprint_col(F.col(text_col))) \
             .dropDuplicates(["__fp"]).drop("__fp")


# ---------------------------------------------------------------------------
# word n-gram shingles + exact Jaccard (the verifier)
# ---------------------------------------------------------------------------

def shingles_col(c: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column (JVM transform
    over 1-based sequence positions)."""
    toks = tokens_col(F.lower(c))
    n_sh = F.size(toks) - (n - 1)
    # guard: Spark's sequence(1, 0) counts DOWN — short docs need an
    # explicit empty array
    return F.when(n_sh < 1, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)))))


def _doc_shingles(df: DataFrame, id_col: str, text_col: str,
                  n: int) -> tuple[DataFrame, DataFrame]:
    """(id, sh) rows, one per distinct word n-gram shingle of a doc,
    and the (id, n_sh) per-doc shingle counts."""
    from ocr_engine_spark.functions.generate import explode_nonull
    # explode_nonull: plain explode re-evaluates the shingle grammar in
    # a Catalyst-inferred guard filter (see generate.py)
    sh = explode_nonull(df, shingles_col(F.col(text_col), n), "sh",
                        F.col(id_col).alias("id"))
    return sh, sh.groupBy("id").agg(F.count("*").alias("n_sh"))


def _shingle_overlaps(sh: DataFrame, sizes: DataFrame) -> DataFrame:
    """(id_a, id_b, inter, n_a, n_b), id_a < id_b, for every pair of
    docs sharing a shingle, from ``_doc_shingles``-shaped (id, sh) and
    (id, n_sh) tables: ``inter`` shared shingles, ``n_a`` / ``n_b``
    each doc's shingle count. An inverted-index equi-join on the
    shingle — never a cross join."""
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, "sh")
             .filter(F.col("a.id") < F.col("b.id"))
             .groupBy(F.col("a.id").alias("id_a"),
                      F.col("b.id").alias("id_b"))
             .agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.select(F.col("id").alias("id_a"),
                               F.col("n_sh").alias("n_a")), "id_a")
            .join(sizes.select(F.col("id").alias("id_b"),
                               F.col("n_sh").alias("n_b")), "id_b"))


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  threshold: float = 0.1) -> DataFrame:
    """Exact pairwise n-gram Jaccard via shingle explode + equi-join.
    Output: (id_a, id_b, inter, n_a, n_b, jaccard), id_a < id_b.

    Scale note: exact and shuffle-bound; at 100 TB this runs only inside
    LSH candidate buckets (minhash_candidate_pairs verifies with this).
    """
    return (_shingle_overlaps(*_doc_shingles(df, id_col, text_col, n))
            .withColumn("jaccard",
                        F.round(F.col("inter").cast("double")
                                / (F.col("n_a") + F.col("n_b")
                                   - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard"))


# ---------------------------------------------------------------------------
# MinHash + banded LSH (the scale path)
# ---------------------------------------------------------------------------

def _shingle_hash_fn(hash_fn: str):
    """THE per-shingle hash lambda (mod p) — single definition shared
    by shingle_hashes_col, minhash_dedup_pairs and MinHashIndex, so
    index files and ad-hoc runs can never drift apart."""
    if hash_fn == "md5":
        return lambda s: F.pmod(md5_int60_col(s), F.lit(MERSENNE_P))
    return lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE_P))


def shingle_hashes_col(c: Column, n: int = 3,
                       hash_fn: str = "xxhash64") -> Column:
    """Hash (mod p) of each distinct word n-gram shingle.

    ``xxhash64`` (default) is the scale path — JVM-native, no string
    materialization. ``md5`` is the PORTABLE variant (first 15 hex chars
    as int): bit-identical in DuckDB via ('0x'||substr(md5(s),1,15)),
    used by the oracle-checked signature query so the MinHash math gets
    a value-level cross-engine check, not just a rows-only one."""
    return F.transform(shingles_col(c, n), _shingle_hash_fn(hash_fn))


def with_jaccard(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """THE exact-verify formula over two (already-distinct) shingle
    array columns: adds ``inter`` and ``jaccard`` — single definition
    shared by minhash_dedup_pairs and MinHashIndex.find_dups."""
    return (df.withColumn("inter",
                          F.size(F.array_intersect(a_col, b_col)))
            .withColumn("jaccard",
                        F.round(F.col("inter").cast("double")
                                / (F.size(a_col) + F.size(b_col)
                                   - F.col("inter")), 6)))


def minhash_sig_from_hashes_col(hashes: Column, num_perm: int = 64,
                                seed: int = 42) -> Column:
    """MinHash signature (array<long>) from a shingle-hash array column:
    ONE aggregate fold with an array<long> accumulator, updated per
    shingle via zip_with against the constant (a,b) parameter array.

    Expression shape matters twice over: (1) a per-permutation
    ``array_min(transform(inline_shingles, ...))`` inlines the whole
    tokenize+shingle subtree num_perm times (HOFs are interpreted, never
    codegen'd — measured ~25x slower); (2) even over a materialized
    array, num_perm separate fold expressions make the plan-analysis
    cost (driver-side) dominate small jobs — one fold keeps the tree
    O(1) in num_perm. Empty array -> p per slot ('no shingles')."""
    params = _perm_params(num_perm, seed)
    ab = F.array(*[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
                   for a, b in params])
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(MERSENNE_P).cast("long"), num_perm),
        lambda acc, h: F.zip_with(
            acc, ab,
            lambda m, p: F.least(m, (h * p["a"] + p["b"]) % MERSENNE_P)))


def minhash_signature_col(c: Column, num_perm: int = 64,
                          n: int = 3, seed: int = 42) -> Column:
    """MinHash signature of raw text as one Column (convenience/test
    surface). Hot paths go through lsh_bands(), which materializes the
    shingle-hash array first so tokenization+shingling runs once."""
    return minhash_sig_from_hashes_col(shingle_hashes_col(c, n),
                                       num_perm, seed)


def lsh_bands(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", num_perm: int = 64,
              bands: int = 16, n: int = 3, seed: int = 42) -> DataFrame:
    """Banded bucketing: (id, band_id, band_hash). Same-bucket docs are
    near-dup candidates. r = num_perm/bands rows per band."""
    assert num_perm % bands == 0
    d = df.select(F.col(id_col).alias("id"),
                  minhash_signature_col(F.col(text_col), num_perm, n, seed)
                  .alias("sig"))
    return _band_rows(d, num_perm, bands)


def _band_rows(sig_df: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, sig) -> (id, band_id, band_hash), one row per band."""
    r = num_perm // bands
    band_cols = [
        F.struct(F.lit(bi).alias("band_id"),
                 F.xxhash64(F.concat_ws(
                     ",", *[F.element_at(F.col("sig"), bi * r + j + 1)
                            for j in range(r)])).alias("band_hash"))
        for bi in range(bands)
    ]
    return (sig_df.select("id", F.explode(F.array(*band_cols)).alias("b"))
            .select("id", F.col("b.band_id").alias("band_id"),
                    F.col("b.band_hash").alias("band_hash")))


def _bands_to_candidates(sig_df: DataFrame, num_perm: int,
                         bands: int) -> DataFrame:
    """Distinct candidate pairs from any shared LSH bucket — ONE shuffle
    on (band_id, band_hash); never a full cross join."""
    b = _band_rows(sig_df, num_perm, bands)
    l, r_ = b.alias("l"), b.alias("r")
    return (l.join(r_, ["band_id", "band_hash"])
             .filter(F.col("l.id") < F.col("r.id"))
             .select(F.col("l.id").alias("id_a"),
                     F.col("r.id").alias("id_b"))
             .distinct())


def minhash_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", num_perm: int = 64,
                            bands: int = 16, n: int = 3,
                            seed: int = 42) -> DataFrame:
    """Distinct near-dup candidate pairs via banded MinHash LSH."""
    d = df.select(F.col(id_col).alias("id"),
                  minhash_signature_col(F.col(text_col), num_perm, n, seed)
                  .alias("sig"))
    return _bands_to_candidates(d, num_perm, bands)


def minhash_dedup_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", threshold: float = 0.5,
                        num_perm: int = 64, bands: int = 16,
                        n: int = 3, seed: int = 42) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> exact Jaccard verify.

    The shingle arrays are materialized ONCE (persisted) and reused by
    both the signature/banding pass and the verify step; verification is
    per-candidate-pair ``array_intersect`` on the two arrays (the arrays
    are already distinct), NOT a second explode+equi-join pipeline —
    one fewer shuffle and no shingle recompute. At 10^12 rows the
    persist becomes a written intermediate table; candidates ≪ corpus,
    so the two verify joins shuffle only candidate rows.

    Cache lifecycle: the persist is released by Spark's ContextCleaner
    once the returned plan is garbage-collected driver-side; a
    long-lived session issuing many calls should materialize the result
    and then call ``spark.catalog.clearCache()`` for deterministic
    release."""
    sh = df.select(F.col(id_col).alias("id"),
                   shingles_col(F.col(text_col), n).alias("sh")).persist()
    hashed = sh.select(
        "id", F.transform("sh", _shingle_hash_fn("xxhash64")).alias("__sh"))
    cands = _bands_to_candidates(
        hashed.select("id",
                      minhash_sig_from_hashes_col(F.col("__sh"), num_perm,
                                                  seed).alias("sig")),
        num_perm, bands)
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (with_jaccard(cands.join(a, "id_a").join(b, "id_b"),
                         "sh_a", "sh_b")
            .withColumn("n_a", F.size("sh_a"))
            .withColumn("n_b", F.size("sh_b"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard"))


def containment_pairs(df: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      threshold: float = 0.8) -> DataFrame:
    """ASYMMETRIC shingle containment pairs (Broder 1997's second
    resemblance measure): ``cont_a = |A∩B| / |A|`` — how much of doc A
    lives inside doc B — and symmetrically ``cont_b``. A 100-word
    excerpt quoted inside a 10,000-word page has Jaccard ~0.01 (both
    symmetric dedups miss it) but containment ~1.0; this is the
    subset/quote detector that complements the Jaccard family.
    Output: (id_a, id_b, inter, n_a, n_b, cont_a, cont_b), id_a <
    id_b, kept when ``greatest(cont_a, cont_b) >= threshold``.

    Same inverted-index equi-join shape as ``jaccard_pairs`` (shared
    shingles only — never a cross join); same scale discipline: exact
    and shuffle-bound, so at 100 TB it runs inside LSH candidate
    buckets or on audit samples. Containments are round-6 doubles
    (inter/n_a with both longs — exact division then one rounding,
    replayed verbatim by the oracle)."""
    return (_shingle_overlaps(*_doc_shingles(df, id_col, text_col, n))
            .withColumn("cont_a", F.round(F.col("inter").cast("double")
                                          / F.col("n_a"), 6))
            .withColumn("cont_b", F.round(F.col("inter").cast("double")
                                          / F.col("n_b"), 6))
            .filter(F.greatest("cont_a", "cont_b") >= threshold)
            .select("id_a", "id_b", "inter", "n_a", "n_b",
                    "cont_a", "cont_b"))


def lsh_quality_audit(df: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text", threshold: float = 0.5,
                      num_perm: int = 16, bands: int = 8, n: int = 3,
                      seed: int = 42,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """ONE-ROW precision/recall audit of the banded-LSH candidate set
    against exact shingle Jaccard ground truth: (n_true, n_cand, n_hit,
    precision_micro, recall_micro). ``n_true`` counts pairs with exact
    Jaccard >= ``threshold`` (via the inverted-index equi-join — no
    cross join), ``n_cand`` the distinct LSH candidate pairs, ``n_hit``
    their intersection; precision/recall in integer micro-units
    (0 when the denominator is 0).

    This is the governance number behind every (num_perm, bands)
    choice: the S-curve says collision probability at Jaccard s is
    ``1-(1-s^r)^b``, and this operator MEASURES the realized
    precision/recall instead of trusting the formula — run it on a
    deterministic corpus sample before committing a 100 TB dedup pass
    (the ground-truth side is pair-quadratic in shared-shingle
    neighborhoods, which is exactly why it runs on the sample, not the
    corpus). Shingle arrays are materialized once and shared by the
    truth pass and the signature pass."""
    sh = df.select(F.col(id_col).alias("id"),
                   shingles_col(F.col(text_col), n).alias("sh")).persist()
    # truth: inverted index -> intersection counts -> exact Jaccard
    truth = (_shingle_overlaps(sh.select("id", F.explode("sh").alias("sh")),
                               sh.select("id", F.size("sh").alias("n_sh")))
             .filter(F.round(F.col("inter").cast("double")
                             / (F.col("n_a") + F.col("n_b")
                                - F.col("inter")), 6) >= threshold)
             .select("id_a", "id_b")
             .withColumn("is_true", F.lit(1)))
    hashed = sh.select(
        "id", F.transform("sh", _shingle_hash_fn(hash_fn)).alias("__sh"))
    cands = (_bands_to_candidates(
        hashed.select("id",
                      minhash_sig_from_hashes_col(F.col("__sh"), num_perm,
                                                  seed).alias("sig")),
        num_perm, bands)
        .withColumn("is_cand", F.lit(1)))
    joined = truth.join(cands, ["id_a", "id_b"], "full_outer")
    return joined.agg(
        F.coalesce(F.sum("is_true"), F.lit(0)).cast("long")
        .alias("n_true"),
        F.coalesce(F.sum("is_cand"), F.lit(0)).cast("long")
        .alias("n_cand"),
        F.coalesce(F.sum(F.col("is_true") * F.col("is_cand")),
                   F.lit(0)).cast("long").alias("n_hit"),
    ).select(
        "n_true", "n_cand", "n_hit",
        F.when(F.col("n_cand") <= 0, F.lit(0))
        .otherwise(F.expr("(n_hit * 1000000) div n_cand"))
        .cast("long").alias("precision_micro"),
        F.when(F.col("n_true") <= 0, F.lit(0))
        .otherwise(F.expr("(n_hit * 1000000) div n_true"))
        .cast("long").alias("recall_micro"))


class MinHashIndex:
    """Build-once / probe-many near-dup index — the INCREMENTAL dedup
    lifecycle at corpus scale: signatures + band rows of the historical
    corpus are computed ONCE and persisted ``partitionBy("band_id")``
    together with the shingle arrays; deduping a new crawl batch then
    costs only the batch's own signatures + one equi-join per probe
    against the stored band rows (partition-pruned) + exact Jaccard
    verify against the stored shingles. The 100 TB history is never
    re-shingled per batch.

    Same banding parameters must be used at build and probe time; they
    are persisted alongside the data (a one-row ``params`` table,
    written through Spark so object-store paths work like local ones)."""

    def __init__(self, path: str, num_perm: int = 64, bands: int = 16,
                 n: int = 3, seed: int = 42,
                 hash_fn: str = "xxhash64") -> None:
        self.path = path
        self.num_perm = num_perm
        self.bands = bands
        self.n = n
        self.seed = seed
        self.hash_fn = hash_fn

    def _p(self, name: str) -> str:
        import os
        return os.path.join(self.path, name)

    def _shingled(self, df: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
        return df.select(F.col(id_col).alias("id"),
                         shingles_col(F.col(text_col), self.n).alias("sh"))

    def _bands_of(self, sh_df: DataFrame) -> DataFrame:
        hashed = sh_df.select(
            "id",
            F.transform("sh", _shingle_hash_fn(self.hash_fn)).alias("__sh"))
        sigs = hashed.select(
            "id", minhash_sig_from_hashes_col(
                F.col("__sh"), self.num_perm, self.seed).alias("sig"))
        return _band_rows(sigs, self.num_perm, self.bands)

    @classmethod
    def build(cls, corpus: DataFrame, path: str, *, id_col: str = "doc_id",
              text_col: str = "text", num_perm: int = 64, bands: int = 16,
              n: int = 3, seed: int = 42,
              hash_fn: str = "xxhash64") -> "MinHashIndex":
        spark = corpus.sparkSession
        idx = cls(path, num_perm, bands, n, seed, hash_fn)
        sh = idx._shingled(corpus, id_col, text_col).persist()
        idx._bands_of(sh).write.partitionBy("band_id") \
            .mode("overwrite").parquet(idx._p("bands"))
        sh.write.mode("overwrite").parquet(idx._p("shingles"))
        sh.unpersist()
        spark.createDataFrame(
            [(num_perm, bands, n, seed, hash_fn)],
            "num_perm int, bands int, n int, seed int, hash_fn string") \
            .coalesce(1).write.mode("overwrite").parquet(idx._p("params"))
        return idx

    @classmethod
    def load(cls, spark, path: str) -> "MinHashIndex":
        import os
        m = spark.read.parquet(os.path.join(path, "params")).first()
        return cls(path, m.num_perm, m.bands, m.n, m.seed, m.hash_fn)

    def find_dups(self, batch: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text",
                  threshold: float = 0.8) -> DataFrame:
        """Near-dup pairs (batch_id, corpus_id, jaccard) between a NEW
        batch and the indexed corpus. Cost: batch shingling + one
        equi-join on (band_id, band_hash) against the stored band rows
        + exact verify against stored shingles — candidates ≪ corpus,
        the index is never recomputed."""
        spark = batch.sparkSession
        sh_new = self._shingled(batch, id_col, text_col).persist()
        b_new = self._bands_of(sh_new) \
            .withColumnRenamed("id", "batch_id")
        b_idx = (spark.read.parquet(self._p("bands"))
                 .withColumnRenamed("id", "corpus_id"))
        cands = (b_new.join(b_idx, ["band_id", "band_hash"])
                 .select("batch_id", "corpus_id").distinct())
        sh_idx = (spark.read.parquet(self._p("shingles"))
                  .select(F.col("id").alias("corpus_id"),
                          F.col("sh").alias("sh_c")))
        a = sh_new.select(F.col("id").alias("batch_id"),
                          F.col("sh").alias("sh_b"))
        return (with_jaccard(cands.join(a, "batch_id")
                             .join(sh_idx, "corpus_id"), "sh_b", "sh_c")
                .filter(F.col("jaccard") >= threshold)
                .select("batch_id", "corpus_id", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def token_hashes_col(c: Column, hash_fn: str = "xxhash64") -> Column:
    """Per-token hashes (SimHash's per-token votes), one per OCCURRENCE
    (repeated tokens vote with their multiplicity, classic Charikar).

    ``xxhash64`` (default) is the scale path. ``md5`` is the PORTABLE
    variant (first 15 hex chars as a 60-bit int — bits 60..63 of the
    resulting signature are always 0 since every vote for them is -1),
    reproducible in DuckDB via ('0x'||substr(md5(t),1,15))::BIGINT, so
    the whole SimHash pipeline gets a value-level cross-engine oracle."""
    toks = tokens_col(F.lower(c))
    if hash_fn == "md5":
        return F.transform(toks, lambda t: md5_int60_col(t))
    return F.transform(toks, lambda t: F.xxhash64(t))


def simhash_from_hashes_col(hashes: Column, bits: int = 64) -> Column:
    """Assemble the SimHash signature from a MATERIALIZED token-hash
    array column: 64 scalar aggregate folds (one per bit, literal shift
    amounts) OR-combined. Pass an attribute reference, not an inline
    expression — each fold re-evaluates its input, which is free for a
    materialized array and ~64x tokenization for an inline one. Bit 63
    enters as its signed two's-complement literal."""

    def _vote(j: int):
        # closure factory: HOF lambdas must have exactly 2 params
        # (pyspark inspects arity; default args break it)
        return lambda acc, h: acc + (
            F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")

    sig = None
    for j in range(bits):
        vote_j = F.aggregate(hashes, F.lit(0).cast("long"), _vote(j))
        bit_val = (1 << j) if j < 63 else -(1 << 63)
        piece = F.when(vote_j > 0, F.lit(bit_val).cast("long")) \
                 .otherwise(F.lit(0).cast("long"))
        sig = piece if sig is None else sig.bitwiseOR(piece)
    return sig


def simhash_col(c: Column, bits: int = 64,
                hash_fn: str = "xxhash64") -> Column:
    """SimHash of raw text as one Column (convenience/test surface).
    Hot paths should go through with_simhash(), which materializes the
    token-hash array first — inline, the 64 folds each re-tokenize."""
    return simhash_from_hashes_col(token_hashes_col(c, hash_fn), bits)


def with_simhash(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", bits: int = 64,
                 hash_fn: str = "xxhash64") -> DataFrame:
    """(id, sh) with the signature computed over a materialized hash
    array. Two projections on purpose: Catalyst's CollapseProject keeps
    them separate because the hash array is a non-cheap expression
    referenced 64 times — so tokenization runs ONCE per document."""
    d = df.select(F.col(id_col).alias("id"),
                  token_hashes_col(F.col(text_col), hash_fn).alias("__th"))
    return d.select("id",
                    simhash_from_hashes_col(F.col("__th"), bits).alias("sh"))


def simhash_hamming_col(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash with PIGEONHOLE blocking — exact, not
    probabilistic: split the 64 bits into (max_hamming + 1) disjoint
    segments; two signatures within hamming ``k`` MUST agree exactly on
    at least one segment (k differing bits cannot touch all k+1
    segments), so a per-segment equi-join has recall 1 by construction
    and the result is identical to the brute-force all-pairs hamming
    filter (which is what the DuckDB oracle computes).

    Plan shape: explode each signature into k+1 (segment_id, segment
    value) rows — ONE shuffle on that pair, distinct candidates, exact
    ``bit_count(xor)`` verify. Never a cross join. At 10^12 docs the
    shuffle carries (k+1) x 16 bytes per doc; candidate volume is
    governed by segment width 64/(k+1) — keep max_hamming small (<=7)
    or pre-partition by a coarser prefix first."""
    nb = max_hamming + 1
    assert 1 <= nb <= 32, "max_hamming must be in [0, 31]"
    width = 64 // nb
    d = with_simhash(df, id_col, text_col, hash_fn=hash_fn)
    segs = []
    for i in range(nb):
        lo = i * width
        w = width if i < nb - 1 else 64 - lo  # last segment absorbs rest
        val = F.shiftrightunsigned(F.col("sh"), lo)
        if w < 64:
            val = val.bitwiseAND(F.lit((1 << w) - 1))
        segs.append(F.struct(F.lit(i).alias("si"), val.alias("sv")))
    e = (d.select("id", "sh", F.explode(F.array(*segs)).alias("s"))
         .select("id", "sh", F.col("s.si").alias("si"),
                 F.col("s.sv").alias("sv")))
    l, r = e.alias("l"), e.alias("r")
    cands = (l.join(r, ["si", "sv"])
              .filter(F.col("l.id") < F.col("r.id"))
              .select(F.col("l.id").alias("id_a"),
                      F.col("r.id").alias("id_b"),
                      F.col("l.sh").alias("sh_a"),
                      F.col("r.sh").alias("sh_b"))
              .distinct())
    return (cands
            .select("id_a", "id_b",
                    simhash_hamming_col(F.col("sh_a"), F.col("sh_b"))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


# ---------------------------------------------------------------------------
# exact duplicated-k-gram removal (substring dedup, Lee et al. 2022)
# ---------------------------------------------------------------------------

# Rabin-Karp fingerprint constants for dedup_kgrams(fingerprint=True):
# two independent ~2^42 prime moduli with ~2^20 bases — the running
# value a*B + x stays < 2^63 at every step (ANSI-safe), and the PAIR
# gives ~2^84 of fingerprint space: expected spurious gram collisions
# at a trillion grams ~= (1e12)^2 / 2 / 2^84 ~= 0.03.
_RK1 = (4398046511093, 1000003)
_RK2 = (4398046511087, 1000033)


def dedup_kgrams(df: DataFrame, k: int = 50, *, id_col: str = "doc_id",
                 text_col: str = "text",
                 out_col: str = "deduped_text",
                 fingerprint: bool = True) -> DataFrame:
    """Remove every word-k-gram that occurs more than once corpus-wide,
    keeping only its FIRST occurrence in global (doc_id, position)
    order — word-granularity exact substring dedup in the style of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), where the trained-on corpus should contain each long
    duplicated span once.

    Semantics (engine-portable, DuckDB-oracle-checkable):
      * tokens = split(text, " ") (positions 0-based);
      * a k-gram starts at every position p with p + k <= n_tokens;
      * an occurrence is a duplicate iff a lexicographically smaller
        (doc_id, p) occurrence of the same k-gram exists anywhere in
        the corpus;
      * the removed set is the UNION of [p, p+k) over all duplicate
        occurrences (overlap with a kept first occurrence does not
        protect a position); remaining tokens rejoin with " ".

    Scale design — NO window over the gram key: a boilerplate gram can
    occur 10^8 times and ``Window.partitionBy(gram)`` would sort it in
    one task. Instead the first occurrence per gram is a groupBy
    ``min(struct(doc_id, pos))`` — map-side partial aggregation absorbs
    hot grams before the shuffle — and duplicates are the join-back
    minus that argmin. Shuffles: gram argmin, gram join-back, covered-
    position distinct, anti-join, per-doc reassembly — all on keys with
    bounded skew (AQE handles residual hot docs).

    Gram KEY (``fingerprint=True``, the scale default): materializing
    every k=50-word gram as a string is a ~50x corpus blow-up that then
    crosses two shuffles — at 100 TB that IS the job. Instead each
    token is hashed once and every gram key is a pair of independent
    Rabin-Karp fingerprints over the token hashes (O(n*k) long
    arithmetic, no string ever built): 16 bytes per gram through every
    shuffle. Same 128-bit-fingerprint "exact" convention as
    ``exact_duplicate_groups`` (md5): ~2^84 pair space, expected
    spurious collisions at a TRILLION grams ~= 0.03 (constants above).
    ``fingerprint=False`` keeps literal string keys (adversarial
    inputs, oracle debugging); both paths are equivalence-tested.

    Gram CONSTRUCTION is a chain of codegen'd window ``lead``s over the
    pos-exploded token table (fold: ``acc = pmod(acc*base + lead(h, j),
    p)``), NOT an array higher-order function: nested HOF lambdas
    (``aggregate`` inside ``transform``) run in Catalyst's interpreter
    at ~20 us per element — measured 17x slower end-to-end than the
    window form on the same keys, and per-element cost grows with
    lambda size, so an unrolled ``element_at`` chain is even worse. The
    window costs one (doc, pos) shuffle that the HOF form avoided; at
    any scale that exchange (8-24 B/token) is far cheaper than
    interpreting a k-step lambda per gram on the hot path.
    """
    if fingerprint:
        (p1, b1), (p2, b2) = _RK1, _RK2
    toks = (df.select(F.col(id_col).alias("__id"),
                      F.split(F.col(text_col), " ").alias("__t")))
    pos = toks.select("__id", F.posexplode("__t").alias("__p", "__w"))
    wnd = Window.partitionBy("__id").orderBy("__p")

    def _roll(col, base, mod):
        # Rabin-Karp fold unrolled over leads; a lead past the document
        # end is null and pmod propagates it, so exactly the positions
        # with p + k <= n_tokens survive the null gate below
        acc = F.col(col)
        for j in range(1, k):
            acc = F.pmod(acc * base + F.lead(col, j).over(wnd),
                         F.lit(mod))
        return acc

    if fingerprint:
        # the gram window shuffles only (id, p, h1, h2) — token text
        # stays in the map-side `pos` branch used by the final anti-join
        h = pos.select("__id", "__p",
                       F.pmod(F.xxhash64("__w"), F.lit(p1)).alias("__h1"),
                       F.pmod(F.xxhash64("__w", F.lit(7)),
                              F.lit(p2)).alias("__h2"))
        grams = (h.select("__id", "__p",
                          F.struct(_roll("__h1", b1, p1).alias("h1"),
                                   _roll("__h2", b2, p2).alias("h2"))
                          .alias("__g"))
                 .filter(F.col("__g.h1").isNotNull()))
    else:
        parts = [F.col("__w")] + [F.lead("__w", j).over(wnd)
                                  for j in range(1, k - 1)]
        last = F.lead("__w", k - 1).over(wnd) if k > 1 else None
        # concat_ws SKIPS nulls — gate on the last lead explicitly so a
        # document tail never forms a shortened gram key
        gram_str = (F.concat_ws(" ", *parts, last) if last is not None
                    else F.col("__w"))
        gate = (last.isNotNull() if last is not None
                else F.lit(True))
        grams = (pos.select("__id", "__p", gram_str.alias("__g"),
                            gate.alias("__ok"))
                 .filter(F.col("__ok")).drop("__ok"))
    firsts = (grams.groupBy("__g")
              .agg(F.min(F.struct("__id", "__p")).alias("__first"),
                   F.count("*").alias("__c"))
              .filter(F.col("__c") > 1))
    dup_occ = (grams.join(firsts, "__g")
               .filter(F.struct("__id", "__p") != F.col("__first")))
    covered = (dup_occ
               .select("__id",
                       F.explode(F.sequence(
                           F.col("__p"),
                           F.col("__p") + k - 1)).alias("__p"))
               .distinct())
    kept = pos.join(covered, ["__id", "__p"], "left_anti")
    rebuilt = (kept.groupBy("__id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(F.col("__p"), F.col("__w")))),
                            lambda s: s["__w"]),
                        " ").alias(out_col),
                    F.count("*").alias("__kept")))
    return (df.join(rebuilt, df[id_col] == rebuilt["__id"], "left")
            .drop("__id")
            .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
            .withColumn("n_tokens",
                        F.size(F.split(F.col(text_col), " "))
                        .cast("long"))
            .withColumn("n_removed",
                        (F.col("n_tokens")
                         - F.coalesce(F.col("__kept"), F.lit(0)))
                        .cast("long"))
            .drop("__kept"))


# ---------------------------------------------------------------------------
# exact paragraph dedup (keep-first, MassiveText/RefinedWeb motif)
# ---------------------------------------------------------------------------


def dedup_paragraphs(df: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text", min_chars: int = 0,
                     out_col: str = "dedup_text") -> DataFrame:
    """Corpus-wide EXACT paragraph dedup with keep-first semantics —
    the paragraph-granularity exact dedup of the MassiveText /
    RefinedWeb family (Rae et al. 2021 arXiv:2112.11446 §A.1.2; Penedo
    et al. 2023 arXiv:2306.01116): every byte-identical paragraph
    (``"\\n\\n"``-separated block) survives only at its
    lexicographically first ``(id, position)`` occurrence and is
    removed everywhere else — including LATER occurrences inside the
    same document. Surviving paragraphs keep their original in-document
    order (``out_col``; a fully consumed document keeps ``""``).
    Output adds ``n_paras`` / ``n_removed`` per document.

    Differs from prune_frequent_lines (scrub.py), which removes EVERY
    occurrence of lines frequent across >= min_docs documents (a
    boilerplate heuristic): here duplication itself is the offense and
    the first copy always survives — the "each span trained on once"
    guarantee (Lee et al. 2022) at paragraph granularity, complementing
    dedup_kgrams' word-k-gram granularity above.

    Eligibility: blank/whitespace-only paragraphs (structural
    artifacts) and paragraphs shorter than ``min_chars`` characters
    never participate — they are always kept in place (RefinedWeb
    likewise spares short spans to avoid nuking common short
    sentences).

    Scale design: paragraphs cross the winner shuffle as 128-bit md5
    fingerprints, never as text (the exact_duplicate_groups
    convention; collision odds at a trillion distinct paragraphs
    ~2^80/2^128 — negligible); the first occurrence per fingerprint is
    a groupBy ``min(struct(id, pos))`` — map-side partial aggregation
    absorbs viral paragraphs before the exchange, where a
    ``Window.partitionBy(fingerprint)`` would sort a 10^8-occurrence
    cookie banner in ONE task — and the winner table (one row per
    distinct eligible paragraph) joins back on the fingerprint.
    Shuffles: winner argmin (fingerprint keys with map-side combine),
    fingerprint join-back, per-doc reassembly — the same bounded-skew
    shape as dedup_kgrams.
    """
    from ocr_engine_spark.functions.generate import posexplode_nonull
    paras = posexplode_nonull(df, F.split(F.col(text_col), "\n\n"),
                              "__pos", "__p",
                              F.col(id_col).alias("__id"))
    elig = paras.withColumn(
        "__elig", (F.trim("__p") != "") &
                  (F.length("__p") >= F.lit(int(min_chars))))
    keyed = elig.withColumn(
        "__fp", F.when(F.col("__elig"), F.md5("__p")))
    firsts = (keyed.filter("__elig")
              .groupBy("__fp")
              .agg(F.min(F.struct("__id", "__pos")).alias("__first")))
    # ineligible rows carry a null fingerprint: the left join never
    # matches them and the filter's first arm keeps them verbatim
    kept = (keyed.join(firsts, "__fp", "left")
            .filter((~F.col("__elig"))
                    | (F.struct("__id", "__pos") == F.col("__first"))))
    rebuilt = (kept.groupBy("__id")
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct(F.col("__pos"), F.col("__p")))),
                            lambda s: s["__p"]),
                        "\n\n").alias(out_col),
                    F.count("*").alias("__kept")))
    return (df.join(rebuilt, df[id_col] == rebuilt["__id"], "left")
            .drop("__id")
            .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
            .withColumn("n_paras",
                        F.size(F.split(F.col(text_col), "\n\n"))
                        .cast("long"))
            .withColumn("n_removed",
                        (F.col("n_paras")
                         - F.coalesce(F.col("__kept"), F.lit(0)))
                        .cast("long"))
            .drop("__kept"))


# ---------------------------------------------------------------------------
# Host-level mirror detection (KMV content-set resemblance)
# ---------------------------------------------------------------------------

#: KMV fingerprint domain for host sketches: md5_int60 div 2^15 (the
#: linkgraph.KMV_DOMAIN convention) — 45 bits keeps every estimator
#: product inside a long.


def mirror_host_pairs(pages: DataFrame, *, url_col: str = "url",
                      text_col: str = "text", k: int = 64,
                      min_permille: int = 500,
                      max_fp_fanout: int = 256) -> DataFrame:
    """(host_a, host_b, shared, union_size, resemblance_permille) —
    pairs of hosts whose CONTENT SETS resemble each other: mirror
    sites, aggregator copies, www/non-www splits that url
    canonicalization could not merge. Host-level resemblance is a
    different animal from document dedup: two mirrors can disagree on
    every url while agreeing on every byte of content.

    Method — per-host KMV sketch over content fingerprints:

      1. distinct (host, fingerprint) pairs (one shuffle, the only
         corpus-sized one);
      2. each host keeps its k SMALLEST 45-bit fingerprints — ranked
         with the range-partition prefix-rank engine
         (sample.global_stratum_ranks), so a million-page host never
         sees a one-task-per-host window sort;
      3. candidate pairs from an equi-join on shared sketch values —
         mirrors share small fingerprints by construction, unrelated
         hosts almost never do; no all-pairs comparison anywhere;
      4. resemblance from the sketches alone (Broder): with
         U = kmin_k(A ∪ B), J ≈ |U ∩ A ∩ B| / |U| — EXACT Jaccard
         whenever |A ∪ B| <= k, an estimate with ~1/sqrt(k) error
         past that. Integer arithmetic only (permille via div), so
         results are bit-identical across cluster sizes and the
         DuckDB oracle replays them verbatim.

    ``max_fp_fanout`` drops fingerprints shared by more hosts than the
    bound before the candidate join (a boilerplate page every host
    serves would otherwise create a hot-key quadratic blowup);
    dropping them from CANDIDATE GENERATION only — sketches keep them
    for the resemblance read, so the estimate is unbiased.
    """
    from ocr_engine_spark.functions.sample import global_stratum_ranks
    from ocr_engine_spark.functions.scrub import host_col

    # 45-bit fingerprints (integer div, never float — 60-bit values
    # exceed double precision): the linkgraph.KMV_DOMAIN convention
    fps = (pages.select(host_col(F.col(url_col)).alias("host"),
                        md5_int60_col(normalized_col(F.col(text_col)))
                        .alias("__fp60"))
           .withColumn("fp", F.expr("__fp60 div 32768"))
           .drop("__fp60")
           .where(F.col("host") != F.lit(""))
           .distinct())
    ranked = global_stratum_ranks(fps, strata_col="host", id_col="fp",
                                  order_col="fp")
    if ranked is None:
        return pages.sparkSession.createDataFrame(
            [], "host_a string, host_b string, shared int, "
                "union_size int, resemblance_permille long")
    sk = (ranked.where(F.col("__grank") <= k)
          .groupBy("host")
          .agg(F.array_sort(F.collect_list("fp")).alias("sk")))
    ex = sk.select("host", F.explode("sk").alias("fp"))
    light = (ex.groupBy("fp").agg(F.count(F.lit(1)).alias("__fan"))
             .where(F.col("__fan") <= max_fp_fanout))
    exl = ex.join(light.select("fp"), "fp")
    a = exl.select(F.col("host").alias("host_a"), "fp")
    b = exl.select(F.col("host").alias("host_b"), "fp")
    cand = (a.join(b, "fp")
            .where(F.col("host_a") < F.col("host_b"))
            .select("host_a", "host_b")
            .distinct())
    ska = sk.select(F.col("host").alias("host_a"),
                    F.col("sk").alias("sk_a"))
    skb = sk.select(F.col("host").alias("host_b"),
                    F.col("sk").alias("sk_b"))
    scored = (cand.join(ska, "host_a").join(skb, "host_b")
              .withColumn("__u", F.slice(F.array_sort(F.array_distinct(
                  F.concat("sk_a", "sk_b"))), 1, k))
              .withColumn("shared", F.size(F.array_intersect(
                  "__u", F.array_intersect("sk_a", "sk_b"))))
              .withColumn("union_size", F.size("__u"))
              .withColumn("resemblance_permille", F.expr(
                  "CAST((shared * 1000) div union_size AS BIGINT)")))
    return (scored.where(F.col("resemblance_permille") >= min_permille)
            .select("host_a", "host_b", "shared", "union_size",
                    "resemblance_permille"))
