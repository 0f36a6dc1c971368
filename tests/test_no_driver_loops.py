"""Source lint (SURVEY.md §7.2): nothing on the hot path may fall back
to driver-side iteration or row-at-a-time Python. Enforced by scanning
the package sources:

  * no ``.rdd`` anywhere (DataFrame-only engine)
  * no ``@udf`` / ``F.udf`` row-at-a-time UDFs
  * ``.collect()`` / ``.toPandas()`` only where a FINITE, small result
    is driver-bound by design (centroid seeds, lineage summaries) —
    explicit allowlist below, reviewed when it grows
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "ocr_engine_spark")

# file -> allowed driver-materialization call sites (substring of line)
COLLECT_ALLOWLIST = {
    "functions/similarity.py": [
        ".select(vec_col).collect())",  # centroid seed: limit(n) upstream
        "embeddings.select(vec_col).first()",  # dim probe: 1 row
        "emb.select(vec_col).first()",         # dim probe: 1 row
        "benchmark.select(bench_vec_col).first()",  # dim probe: 1 row
        "rows = base.collect()",  # broadcast-verify matrix: size-guarded
        '.cast("array<double>")).collect()',  # benchmark matrix: size-guarded
        'first = base.select("v").first()',  # dim probe: 1 row
        '.orderBy("cell").collect()',  # index centroids: k rows
        '.collect())  # k x dim rows: bounded by design',  # Lloyd means
        '.collect())  # dim rows: bounded by design',  # seed centroid
    ],
    "functions/pack.py": [
        '.orderBy("__part").collect())',  # per-partition totals: |parts|
    ],
    "functions/sample.py": [
        '.orderBy(strata_col, "__part").collect())',  # |parts|+|strata|
    ],
    "functions/dedup.py": [
        '"params")).first()',       # index params: 1 row
    ],
    "functions/search.py": [
        '_corpus_stats(post, self.id_col).collect()[0]',  # stats: 1 row
        '"meta")).collect()[0]',              # index metadata: 1 row
    ],
    "functions/pq.py": [
        ".limit(k).select(vec_col).collect())",  # codebook seed: k rows
        '.collect())  # m x k x d rows, bounded',  # Lloyd sub-means
        '.orderBy("s", "code").collect()',  # stored codebooks: m*k rows
    ],
    "functions/bpe.py": [
        ".first())  # 1-row argmax read, IVF-seed discipline",
    ],
    "functions/unigram.py": [
        'F.length("piece") == 1).collect())',   # char layer: <=36 rows
        '.limit(vocab_size - len(chars)).collect()]',  # vocab-bounded
        ".collect())  # bounded by vocab_size",  # M-step usage counts
    ],
    "functions/shards.py": [
        '.alias("q")).first()',     # manifest totals: 1 row
        '.select("seqs_per_shard").first()',  # manifest param: 1 row
    ],
    "engine/catalog.py": [
        ").collect())]",            # per-partition lineage rows: |parts|
        ".agg(*agg).collect()]",    # per-partition lineage rows: |parts|
        'snapshots_summary_sql(ident)).collect()',  # snapshots: |snaps|
        'snapshot_lookup_sql(ident, batch_id)).first()',  # 1 row
    ],
}


def _sources():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                yield os.path.relpath(p, PKG), open(p).read()


def test_no_rdd_api():
    for rel, src in _sources():
        assert ".rdd" not in src, rel


def test_no_row_at_a_time_udfs():
    for rel, src in _sources():
        assert not re.search(r"\bF\.udf\b|@udf\b|\budf\(", src), rel


def test_collect_only_on_allowlisted_small_results():
    pat = re.compile(r"\.collect\(\)|\.toPandas\(\)|\.first\(\)")
    for rel, src in _sources():
        allowed = COLLECT_ALLOWLIST.get(rel, [])
        for i, line in enumerate(src.splitlines(), 1):
            if pat.search(line):
                assert any(a in line for a in allowed), \
                    f"{rel}:{i}: driver materialization not allowlisted: " \
                    f"{line.strip()}"
