"""``run_job.py`` subcommands driven in-process through ``run(spark,
args)`` on the shared test session, asserting on the JSON each one
prints. Every printed count of a written output must equal a read-back
of what landed. ``test_discover_cli`` (plus the SIGKILL drill in
test_kill_resume.py) still goes through ``python run_job.py`` so the
script entry and its own session stay covered."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

import run_job
from tests.conftest import TESTDATA_SF001

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = os.path.join(TESTDATA_SF001, "documents.parquet")


def _cli(spark, capsys, *argv) -> list:
    """Run one subcommand in-process; returns its printed JSON lines."""
    capsys.readouterr()
    assert run_job.run(spark, run_job.parse_args(list(argv))) == 0
    return [json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()]


@pytest.mark.slow
def test_pipeline_split(spark, capsys, tmp_path):
    out = str(tmp_path / "sink")
    rep = _cli(spark, capsys, "pipeline", "--input", DOCS,
               "--output", out, "--seq-len", "256", "--seqs-per-shard", "8",
               "--split", "train=0.8", "--split", "val=0.1",
               "--split", "test=0.1")[-1]
    assert rep["eval_leaks"] == 0
    assert rep["verify_mismatches"] == 0
    assert set(rep["splits"]) == {"val", "test"}
    assert rep["n_seqs"] > 0
    n_eval = sum(rep["splits"].values())
    assert 0 < n_eval < rep["n_after_dedup"]
    for name in ("val", "test"):
        assert os.path.isdir(os.path.join(out, f"split_{name}"))
        assert rep["splits"][name] == spark.read.parquet(
            os.path.join(out, f"split_{name}")).count()
    # packed train must not contain eval rows: shards hold sequences,
    # so check the doc budget instead — train docs = dedup - eval
    assert rep["n_after_dedup"] - n_eval > 0


def test_bpe_cli(spark, capsys, tmp_path):
    out = tmp_path / "bpe"
    payload = _cli(spark, capsys, "bpe", "--input", DOCS,
                   "--output", str(out), "--merges", "6", "--encode")[-1]
    assert payload["n_merges"] == 6
    assert payload["encoded_docs"] > 0
    assert payload["total_tokens"] > payload["encoded_docs"]
    assert (out / "merges").exists() and (out / "tokens").exists()
    got = spark.read.parquet(str(out / "tokens")).agg(
        F.count("*"), F.sum(F.size("tokens"))).first()
    assert (payload["encoded_docs"], payload["total_tokens"]) == tuple(got)


def test_linkgraph_cli(spark, capsys, tmp_path, corpus_dir):
    out = str(tmp_path / "graph")
    rep = _cli(spark, capsys, "linkgraph",
               "--input", os.path.join(corpus_dir, "pages.parquet"),
               "--output", out, "--iterations", "3", "--harmonic",
               "--frontier", "1767225600", "--frontier-top", "25")[-1]
    assert rep["hosts"] > 0 and rep["edges"] > 0
    assert rep["harmonic_hosts"] == rep["hosts"]
    # per-host budget (default 2) caps the frontier below the top-n
    assert rep["frontier_urls"] == min(25, 2 * rep["hosts"])
    assert len(rep["top"]) > 0
    for sub in ("edges", "ranks", "harmonic", "frontier"):
        assert os.path.isdir(os.path.join(out, sub))
    for key, sub in (("edges", "edges"), ("hosts", "ranks"),
                     ("frontier_urls", "frontier")):
        assert rep[key] == spark.read.parquet(
            os.path.join(out, sub)).count()


def test_dedup_keep_best_cli(spark, capsys, tmp_path):
    """--resolve --keep-best n_chars: the kept member of every cluster
    must carry the cluster-max n_chars (ties to min doc_id)."""
    out = tmp_path / "dd"
    payload = _cli(spark, capsys, "dedup", "--input", DOCS,
                   "--output", str(out), "--resolve",
                   "--keep-best", "n_chars")[-1]
    assert payload["clusters"] > 0
    assert payload["kept_docs"] > 0
    for key, sub in (("exact_groups", "exact_groups"),
                     ("near_dup_pairs", "near_dup_pairs"),
                     ("clusters", "clusters"), ("kept_docs", "deduped")):
        assert payload[key] == spark.read.parquet(str(out / sub)).count()
    dec = pq.read_table(str(out / "clusters")).to_pandas()
    docs = pq.read_table(DOCS, columns=["doc_id", "n_chars"]).to_pandas()
    merged = dec.merge(docs, on="doc_id")
    for cid, g in merged.groupby("cluster_id"):
        best = g[g["n_chars"] == g["n_chars"].max()]
        assert g[g["keep"]]["doc_id"].tolist() == \
            [int(best["doc_id"].min())]


def test_textindex_textsearch_cli(spark, capsys, tmp_path):
    """textindex -> textsearch roundtrip: the pruned-index query must
    return exactly the direct bm25_topk result on the same corpus."""
    ix = str(tmp_path / "tix")
    meta = _cli(spark, capsys, "textindex", "--input", DOCS,
                "--output", ix, "--buckets", "16")[-1]
    assert meta["n_docs"] > 0 and meta["buckets"] == 16
    hits = _cli(spark, capsys, "textsearch", "--index", ix,
                "--query", "table scan join", "--k", "5")[-1]
    assert [h["rank"] for h in hits] == [1, 2, 3, 4, 5]
    assert all(h["n_terms_hit"] >= 1 for h in hits)
    # scores strictly ordered (ties broken by doc_id upstream)
    scores = [h["score_micro"] for h in hits]
    assert scores == sorted(scores, reverse=True)


def test_classify_cli(spark, capsys, tmp_path):
    """classify subcommand: fit on labeled parquet, score a corpus,
    prediction distribution reported."""
    spam = "win free prize click offer winner cash bonus claim"
    ham = "spark plans shuffle data across the cluster nodes"
    tbl = pa.table({
        "doc_id": pa.array(range(40), pa.int64()),
        "text": pa.array([(spam if i % 2 else ham) + f" v{i}"
                          for i in range(40)]),
        "label": pa.array(["spam" if i % 2 else "ham"
                           for i in range(40)]),
    })
    train = tmp_path / "train.parquet"
    pq.write_table(tbl, str(train))
    rep = _cli(spark, capsys, "classify", "--train", str(train),
               "--input", str(train), "--output", str(tmp_path / "preds"),
               "--buckets", "512")[-1]
    # training data scores itself perfectly with disjoint vocab
    assert rep["by_label"] == {"ham": 20, "spam": 20}


def test_classify_cli_char_features(spark, capsys, tmp_path):
    """classify --features char: language ID by orthography — every
    word is unique per doc, so only char grams carry the signal."""
    rows = [(i, " ".join(f"tokato{i}{j}mi" for j in range(6)), "a")
            if i % 2 else
            (i, " ".join(f"schrö{i}{j}üß" for j in range(6)), "b")
            for i in range(40)]
    tbl = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows]),
        "label": pa.array([r[2] for r in rows]),
    })
    train = tmp_path / "train.parquet"
    pq.write_table(tbl, str(train))
    rep = _cli(spark, capsys, "classify", "--train", str(train),
               "--input", str(train), "--output", str(tmp_path / "preds"),
               "--buckets", "512", "--features", "char")[-1]
    assert rep["by_label"] == {"a": 20, "b": 20}


@pytest.mark.slow
def test_gopher_and_drift_cli(spark, capsys, tmp_path):
    """gopher: report JSON + kept corpus with the n-gram family;
    drift: per-value table + 1-row gate JSON over two snapshots."""
    kept = str(tmp_path / "kept")
    rep = _cli(spark, capsys, "gopher", "--input", DOCS, "--output", kept,
               "--ngrams",
               # the synthetic word-salad corpus has no natural stopword
               # presence and many short docs; tune the subset like a
               # real recipe would (the report still shows the skipped
               # rules)
               "--skip-rule", "missing_stopwords",
               "--skip-rule", "too_few_words")[-1]
    assert rep["n_docs"] == 500
    assert rep["fail_missing_stopwords"] > 0  # reported even when skipped
    assert 0 < rep["n_written"] <= rep["n_docs"]
    assert rep["n_written"] == spark.read.parquet(kept).count()
    assert "fail_ngram_repetition" in rep

    table = str(tmp_path / "drift")
    s = _cli(spark, capsys, "drift", "--old", DOCS, "--new", kept,
             "--column", "source", "--output", table)[-1]
    assert s["column"] == "source"
    assert s["total_old"] == 500 and s["total_new"] == rep["n_written"]
    assert s["kl_micro"] >= 0 and s["tv_micro"] >= 0
    import glob
    assert glob.glob(os.path.join(table, "*.parquet"))


def test_discover_cli(tmp_path):
    """discover: feed autodiscovery + hreflang alternates + page/OG
    metadata harvested from raw pages in one job, through the script
    entry (its own session, a subprocess)."""
    html1 = (b"<html><head><title>Page One</title>"
             b"<meta property='og:type' content='article'>"
             b"<link rel='alternate' type='application/rss+xml' "
             b"href='/feed.xml'>"
             b"<link rel='alternate' hreflang='fr' "
             b"href='https://s/fr/1'></head><body>x</body></html>")
    html2 = b"<html><head><title>Two</title></head></html>"
    tbl = pa.table({
        "url": pa.array(["https://s/en/1", "https://s/en/2"]),
        "html": pa.array([html1, html2], pa.binary()),
    })
    src = tmp_path / "pages.parquet"
    pq.write_table(tbl, str(src))
    out = tmp_path / "disc"
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    r = subprocess.run(
        [sys.executable, "run_job.py", "discover",
         "--input", str(src), "--output", str(out)],
        capture_output=True, text=True, cwd=REPO, env=env)
    assert r.returncode == 0, r.stderr[-2000:]
    rep = json.loads(r.stdout.strip().splitlines()[-1])
    assert rep["counts"] == {"feeds": 1, "alternates": 1,
                             "metadata": 2, "pages": 2}


def test_funnel_and_perplexity_cli(spark, capsys, tmp_path):
    rows = _cli(spark, capsys, "funnel", "--input", DOCS)[-1]
    assert [r["stage"] for r in rows] == [
        "input", "min_tokens_25", "quality_micro_350000", "exact_dedup"]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_in"] == prev["n_kept"]

    out = str(tmp_path / "ppl")
    rep = _cli(spark, capsys, "perplexity", "--input", DOCS,
               "--reference", DOCS, "--order", "3", "--buckets", "256",
               "--output", out)[-1]
    assert rep["order"] == 3 and rep["docs"] > 0
    assert rep["log_ppl_micro_min"] <= rep["log_ppl_micro_max"]
    assert os.path.isdir(out)
    got = spark.read.parquet(out).agg(
        F.count("*"), F.min("log_ppl_micro"), F.max("log_ppl_micro")).first()
    assert (rep["docs"], rep["log_ppl_micro_min"],
            rep["log_ppl_micro_max"]) == tuple(got)


def test_select_cli(spark, capsys, tmp_path):
    out = str(tmp_path / "sel")
    rep = _cli(spark, capsys, "select", "--input", DOCS, "--target", DOCS,
               "--output", out, "--k", "20", "--buckets", "1000")[-1]
    assert rep["selected"] == spark.read.parquet(out).count() == 20
    assert (rep["k"], rep["buckets"], rep["seed"]) == (20, 1000, 42)


def test_mix_cli(spark, capsys, tmp_path):
    out = str(tmp_path / "mix")
    rep = _cli(spark, capsys, "mix", "--input", DOCS, "--output", out,
               "--total", "120")[-1]
    assert rep["rows"] == spark.read.parquet(out).count() == 120
    rep = _cli(spark, capsys, "mix", "--input", DOCS, "--output", out,
               "--quota", "en=7")[-1]
    assert rep == {"rows": spark.read.parquet(out).count(),
                   "quotas": {"en": 7}}


def test_chunk_cli(spark, capsys, tmp_path):
    out = str(tmp_path / "chunks")
    rep = _cli(spark, capsys, "chunk", "--input", DOCS, "--output", out,
               "--chunk-tokens", "64", "--stride", "48")[-1]
    written = spark.read.parquet(out)
    assert rep["n_chunks"] == written.count() > 0
    assert rep["n_docs"] == written.select("doc_id").distinct().count()
    assert (rep["chunk_tokens"], rep["stride"]) == (64, 48)


def test_snapshot_cli_output(spark, capsys, tmp_path):
    old, new = str(tmp_path / "old.parquet"), str(tmp_path / "new.parquet")
    pq.write_table(pa.table({"url": ["u/a", "u/b", "u/c"],
                             "text": ["a", "b", "c"]}), old)
    pq.write_table(pa.table({"url": ["u/b", "u/c", "u/d"],
                             "text": ["b2", "c", "d"]}), new)
    out = str(tmp_path / "diff")
    rep = _cli(spark, capsys, "snapshot", "--old", old, "--new", new,
               "--output", out)[-1]
    assert rep["statuses"] == {"added": 1, "removed": 1, "changed": 1,
                               "unchanged": 1}
    landed = {r["status"]: r["n"] for r in spark.read.parquet(out)
              .groupBy("status").agg(F.count("*").alias("n")).collect()}
    assert rep["statuses"] == landed
    assert (rep["total"], rep["out"]) == (4, out)


def test_traps_cli_output(spark, capsys, tmp_path):
    urls = ([f"https://cal.example/cal/2024-1-{d}" for d in range(1, 13)]
            + ["https://cal.example/about", "https://b.example/",
               "https://b.example/p/1", "https://b.example/p/2"])
    pages = str(tmp_path / "pages.parquet")
    pq.write_table(pa.table({"url": urls}), pages)
    out = str(tmp_path / "traps")
    rep = _cli(spark, capsys, "traps", "--pages", pages, "--min-urls", "8",
               "--output", out)[-1]
    landed = spark.read.parquet(out).agg(
        F.countDistinct("host").alias("hosts"),
        F.count("*").alias("templates"),
        F.sum(F.col("is_trap").cast("long")).alias("trap_templates"),
        F.sum(F.when(F.col("is_trap"), F.col("n_urls")))
        .alias("trapped_urls")).first().asDict()
    assert rep == landed == {"hosts": 2, "templates": 4,
                             "trap_templates": 1, "trapped_urls": 12}
    # without --output the same summary comes from one aggregate job
    assert _cli(spark, capsys, "traps", "--pages", pages,
                "--min-urls", "8")[-1] == rep


ROBOTS = "User-agent: gptbot\nDisallow: /\n\nUser-agent: *\nDisallow: /p/\n"


def test_robots_cli_agents(spark, capsys, tmp_path):
    """robots --agents prints one {agent, urls, allowed, blocked} row
    per agent; --output (one agent) counts what it wrote."""
    from ocr_engine_spark.functions.robots import robots_decisions
    pages, robots = (str(tmp_path / "pages.parquet"),
                     str(tmp_path / "robots.parquet"))
    pq.write_table(pa.table({"url": [
        "https://ex.com/", "https://ex.com/p/1", "https://ex.com/p/2",
        "https://none.io/x"]}), pages)
    pq.write_table(pa.table({"host": ["ex.com"], "robots_txt": [ROBOTS]}),
                   robots)
    rows = _cli(spark, capsys, "robots", "--pages", pages,
                "--robots", robots, "--agents", "gptbot,*")
    assert rows == [
        {"agent": "gptbot", "urls": 4, "allowed": 1, "blocked": 3},
        {"agent": "*", "urls": 4, "allowed": 2, "blocked": 2}]
    for row in rows:
        dec = robots_decisions(spark.read.parquet(pages),
                               spark.read.parquet(robots),
                               agent=row["agent"])
        assert row["allowed"] == dec.filter(F.col("allowed")).count()

    out = str(tmp_path / "dec")
    (row,) = _cli(spark, capsys, "robots", "--pages", pages,
                  "--robots", robots, "--agent", "gptbot", "--output", out)
    landed = spark.read.parquet(out)
    assert row == rows[0]
    assert (row["urls"], row["allowed"]) == (
        landed.count(), landed.filter(F.col("allowed")).count())
    with pytest.raises(SystemExit):
        run_job.parse_args(["robots", "--pages", pages, "--robots", robots,
                            "--agents", "gptbot,*", "--output", out])


def test_decontam_spans_cli(spark, capsys, tmp_path):
    bench = str(tmp_path / "bench.parquet")
    pq.write_table(pq.read_table(DOCS, columns=["doc_id", "text"])
                   .slice(0, 3), bench)
    out = str(tmp_path / "clean")
    rep = _cli(spark, capsys, "decontam", "--input", DOCS,
               "--benchmark", bench, "--output", out, "--ngram", "8",
               "--spans")[-1]
    assert rep["path"] == "exact"
    assert rep["kept"] == spark.read.parquet(out).count()
    assert rep["spans"] == spark.read.parquet(out + "_spans").count() > 0
    assert rep["contaminated"] >= 3
    assert rep["contaminated"] + rep["kept"] == 500


def test_index_search_cli(spark, capsys, tmp_path):
    from ocr_engine_spark.functions.similarity import IvfIndex
    emb = os.path.join(TESTDATA_SF001, "embeddings.parquet")
    ix = str(tmp_path / "ivf")
    rep = _cli(spark, capsys, "index", "--input", emb, "--output", ix,
               "--centroids", "8")[-1]
    assert rep == {"index": ix, "n_centroids": 8}
    idx = IvfIndex.load(spark, ix)
    assert len(idx.centroids) == 8
    hits = _cli(spark, capsys, "search", "--index", ix, "--input", emb,
                "--query-id", "0", "--k", "5", "--probes", "8")[-1]
    qv = [float(x) for x in spark.read.parquet(emb)
          .filter("vec_id = 0").first()["embedding"]]
    assert hits == [{"vec_id": r[0], "cosine": r[1]}
                    for r in idx.topk(spark, qv, k=5, n_probe=8).collect()]
    assert hits[0]["vec_id"] == 0
