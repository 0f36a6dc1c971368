"""spark-submit entry point (SURVEY.md §7.1.7, north_rule deployment
shape):

    zip -r ocr_engine_spark.zip ocr_engine_spark
    spark-submit --py-files ocr_engine_spark.zip run_job.py extract \
        --input  /data/pages_parquet \
        --output /data/out_catalog   \
        --batches 64

Subcommands:
  extract   resumable extraction into a ManifestCatalog (skips committed
            batches on restart — kill it mid-run and re-submit)
  evaluate  broadcast-join goldens + CER metrics over a catalog's
            extractions table
  stream    continuous/backfill ingest via Structured Streaming
  sessions  stateful per-host crawl sessionization stream
  dedup     exact + MinHash-LSH near-dup pass over a documents table
  index     build a persisted IVF index over an embeddings table
  search    approximate top-k against a built IVF index
  profile   corpus text-quality / language / token profile
  select    DSIR importance resampling toward a target domain
  mix       temperature-alpha or explicit-quota stratum resampling
  decontam  benchmark n-gram decontamination (exact or Bloom prefilter)

Also runnable without spark-submit: ``python run_job.py ...`` builds a
local session from SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="run_job")
    sub = ap.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="resumable extraction job")
    ex.add_argument("--input", required=True, help="pages parquet path")
    ex.add_argument("--format", default="parquet", choices=["parquet", "warc"],
                    help="input format (warc = raw Common-Crawl archives)")
    ex.add_argument("--output", required=True, help="catalog root dir")
    ex.add_argument("--table", default="extractions")
    ex.add_argument("--batches", type=int, default=8)

    ev = sub.add_parser("evaluate", help="golden-compare + CER metrics")
    ev.add_argument("--catalog", required=True, help="catalog root dir")
    ev.add_argument("--table", default="extractions")
    ev.add_argument("--golden", required=True, help="golden parquet path")
    ev.add_argument("--degradations", default=None)
    ev.add_argument("--wer", action="store_true",
                    help="also report word-level error rate per scope")

    st = sub.add_parser("stream", help="streaming ingest")
    st.add_argument("--input", required=True, help="pages directory")
    st.add_argument("--output", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--continuous", action="store_true",
                    help="keep running (default: drain available + stop)")

    se = sub.add_parser("sessions", help="per-host crawl sessionization")
    se.add_argument("--input", required=True, help="pages directory")
    se.add_argument("--output", required=True)
    se.add_argument("--checkpoint", required=True)
    se.add_argument("--gap-min", type=int, default=30)
    se.add_argument("--continuous", action="store_true")

    dd = sub.add_parser("dedup", help="exact + near-dup pass")
    dd.add_argument("--input", required=True, help="documents parquet")
    dd.add_argument("--output", required=True, help="output dir")
    dd.add_argument("--threshold", type=float, default=0.8)
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--resolve", action="store_true",
                    help="also resolve pairs into clusters and write the"
                         " keep-one deduped corpus")
    dd.add_argument("--keep-best", metavar="COLUMN", default=None,
                    help="with --resolve: keep the cluster member with "
                         "the highest COLUMN value (ties to min id) "
                         "instead of the min-id member")
    dd.add_argument("--mirrors", action="store_true",
                    help="also detect mirror HOSTS (KMV content-set "
                         "resemblance; requires a url column)")
    dd.add_argument("--url-col", default="url")

    ib = sub.add_parser("index", help="build persisted IVF index")
    ib.add_argument("--input", required=True, help="embeddings parquet")
    ib.add_argument("--output", required=True, help="index dir")
    ib.add_argument("--centroids", type=int, default=64)

    qs = sub.add_parser("search", help="IVF top-k probe")
    qs.add_argument("--index", required=True, help="index dir")
    qs.add_argument("--input", required=True, help="embeddings parquet "
                    "(query vector source)")
    qs.add_argument("--query-id", type=int, required=True)
    qs.add_argument("--k", type=int, default=10)
    qs.add_argument("--probes", type=int, default=8)

    ti = sub.add_parser("textindex", help="build persisted BM25 "
                                          "inverted index")
    ti.add_argument("--input", required=True, help="documents parquet")
    ti.add_argument("--output", required=True, help="index dir")
    ti.add_argument("--buckets", type=int, default=64,
                    help="term-hash partition buckets")

    ts = sub.add_parser("textsearch", help="BM25 top-k full-text query")
    ts.add_argument("--index", required=True, help="textindex dir")
    ts.add_argument("--query", required=True, help="free-text query")
    ts.add_argument("--k", type=int, default=10)
    ts.add_argument("--phrase", action="store_true",
                    help="exact-phrase match instead of BM25 ranking")

    cf = sub.add_parser("classify", help="fit NB classifier on labeled "
                                         "docs; score a corpus")
    cf.add_argument("--train", required=True,
                    help="labeled parquet (needs a label column)")
    cf.add_argument("--label-col", default="label")
    cf.add_argument("--input", required=True, help="corpus to score")
    cf.add_argument("--output", required=True,
                    help="predictions parquet dir")
    cf.add_argument("--buckets", type=int, default=4096)
    cf.add_argument("--features", choices=["word", "char"],
                    default="word",
                    help="word n-grams (quality/domain) or char "
                         "n-grams (language ID)")

    pf = sub.add_parser("profile", help="corpus text profile")
    pf.add_argument("--input", required=True, help="documents parquet")
    pf.add_argument("--output", required=True, help="metrics parquet dir")

    sl = sub.add_parser("select", help="DSIR data selection")
    sl.add_argument("--input", required=True, help="documents parquet")
    sl.add_argument("--target", required=True,
                    help="target-domain sample parquet (same schema)")
    sl.add_argument("--output", required=True, help="selected parquet dir")
    sl.add_argument("--k", type=int, required=True,
                    help="number of documents to select")
    sl.add_argument("--buckets", type=int, default=10_000)
    sl.add_argument("--seed", type=int, default=42)
    sl.add_argument("--id-col", default="doc_id")
    sl.add_argument("--text-col", default="text")

    mx = sub.add_parser("mix", help="temperature-alpha or explicit-"
                                    "quota resampling")
    mx.add_argument("--input", required=True, help="documents parquet")
    mx.add_argument("--output", required=True, help="mixed parquet dir")
    mx.add_argument("--alpha", type=float, default=0.3)
    mx.add_argument("--total", type=int,
                    help="output row budget across all strata "
                         "(temperature mode; required unless --quota)")
    mx.add_argument("--quota", action="append", default=[],
                    metavar="STRATUM=N",
                    help="explicit per-stratum quota (repeatable; "
                         "switches to quota_sample — DoReMi/Pile-style "
                         "external recipes; strata without a quota "
                         "are dropped)")
    mx.add_argument("--strata-col", default="lang")
    mx.add_argument("--id-col", default="doc_id")

    dc = sub.add_parser("decontam", help="benchmark decontamination")
    dc.add_argument("--input", required=True, help="documents parquet")
    dc.add_argument("--benchmark", required=True,
                    help="benchmark set parquet (same schema)")
    dc.add_argument("--output", required=True, help="clean parquet dir")
    dc.add_argument("--ngram", type=int, default=13)
    dc.add_argument("--bloom", action="store_true",
                    help="Bloom-prefilter path (for benchmark gram sets "
                         "too big to broadcast exactly)")
    dc.add_argument("--m-bits", type=int, default=1 << 24)
    dc.add_argument("--hashes", type=int, default=5)
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--fraction-micro", type=int, default=None,
                    metavar="MICRO",
                    help="PaLM-style positional-overlap mode: drop docs "
                         "whose hit fraction reaches MICRO (700000 = "
                         "the paper's 70%% of 8-grams); uses --ngram")
    dc.add_argument("--spans", action="store_true",
                    help="also write <output>_spans forensics (where "
                         "each contaminated doc overlaps)")

    pk = sub.add_parser("pack", help="pack docs into training shards")
    pk.add_argument("--input", required=True, help="documents parquet")
    pk.add_argument("--output", required=True, help="shard sink dir")
    pk.add_argument("--seq-len", type=int, default=2048)
    pk.add_argument("--seqs-per-shard", type=int, default=1024)
    pk.add_argument("--id-col", default="doc_id")
    pk.add_argument("--text-col", default="text")
    pk.add_argument("--verify", action="store_true",
                    help="re-read written shards and diff vs manifest")
    pk.add_argument("--shuffle-seed", type=int, default=None,
                    help="epoch-shuffle docs with this seed before "
                         "packing (deterministic permutation)")

    sn = sub.add_parser("snapshot", help="diff two crawl snapshots")
    sn.add_argument("--old", required=True, help="old snapshot parquet")
    sn.add_argument("--new", required=True, help="new snapshot parquet")
    sn.add_argument("--key-col", default="url")
    sn.add_argument("--text-col", default="text")
    sn.add_argument("--output", default=None,
                    help="optionally write the per-key diff parquet")

    gq = sub.add_parser("gopher", help="full Gopher quality-rule "
                                       "battery: report + kept corpus")
    gq.add_argument("--input", required=True, help="documents parquet")
    gq.add_argument("--output", help="kept-corpus parquet sink")
    gq.add_argument("--ngrams", action="store_true",
                    help="also apply the n-gram repetition family "
                         "(top-n-gram + duplicated-n-gram coverage)")
    gq.add_argument("--skip-rule", action="append", default=[],
                    metavar="NAME",
                    help="drop a rule from the FILTER (report still "
                         "shows it); repeatable — rule names are the "
                         "RULES keys in functions/gopher.py")
    gq.add_argument("--id-col", default="doc_id")
    gq.add_argument("--text-col", default="text")

    dr = sub.add_parser("drift", help="distribution drift between two "
                                      "corpus snapshots (KL/JS/TV gate)")
    dr.add_argument("--old", required=True, help="old snapshot parquet")
    dr.add_argument("--new", required=True, help="new snapshot parquet")
    dr.add_argument("--column", required=True,
                    help="categorical column to compare (bucket "
                         "numeric columns upstream)")
    dr.add_argument("--alpha", type=float, default=0.5,
                    help="add-alpha smoothing")
    dr.add_argument("--output", help="per-value drift table parquet")

    ck = sub.add_parser("chunk", help="sliding-window document chunks")
    ck.add_argument("--input", required=True, help="documents parquet")
    ck.add_argument("--output", required=True, help="chunks parquet dir")
    ck.add_argument("--chunk-tokens", type=int, default=256)
    ck.add_argument("--stride", type=int, default=192)
    ck.add_argument("--id-col", default="doc_id")
    ck.add_argument("--text-col", default="text")

    dv = sub.add_parser("discover", help="crawl-discovery harvest: "
                        "feed autodiscovery + hreflang alternates + "
                        "page/OG metadata from raw pages")
    dv.add_argument("--input", required=True,
                    help="pages parquet (url, html)")
    dv.add_argument("--output", required=True, help="output dir")

    rb = sub.add_parser("robots", help="robots.txt fetch-permission "
                                       "audit over a pages table")
    rb.add_argument("--pages", required=True, help="pages parquet (url)")
    rb.add_argument("--robots", required=True,
                    help="robots parquet (host, robots_txt)")
    rb.add_argument("--agent", default="*")
    rb.add_argument("--output", default=None,
                    help="optionally write per-url decisions parquet")

    bp = sub.add_parser("bpe", help="train a BPE tokenizer; optionally "
                                    "encode the corpus with it")
    bp.add_argument("--input", required=True, help="documents parquet")
    bp.add_argument("--output", required=True,
                    help="output dir (merges parquet + optional tokens)")
    bp.add_argument("--merges", type=int, default=32)
    bp.add_argument("--min-pair-count", type=int, default=2)
    bp.add_argument("--encode", action="store_true",
                    help="also write per-doc token arrays")
    bp.add_argument("--id-col", default="doc_id")
    bp.add_argument("--text-col", default="text")

    lg = sub.add_parser("linkgraph", help="host link graph + PageRank "
                                          "from raw page payloads")
    lg.add_argument("--input", required=True, help="pages parquet "
                                                   "(url, html)")
    lg.add_argument("--output", required=True,
                    help="writes <output>/edges and <output>/ranks")
    lg.add_argument("--iterations", type=int, default=10)
    lg.add_argument("--damping-pct", type=int, default=85)
    lg.add_argument("--top", type=int, default=10,
                    help="top hosts to include in the JSON summary")
    lg.add_argument("--harmonic", action="store_true",
                    help="also write KMV harmonic-centrality ranks")
    lg.add_argument("--frontier", type=int, metavar="NOW_EPOCH",
                    default=None,
                    help="also write the re-crawl frontier scheduled "
                         "against this epoch-seconds instant")
    lg.add_argument("--per-host-budget", type=int, default=2)
    lg.add_argument("--frontier-top", type=int, default=1000)
    lg.add_argument("--stats", action="store_true",
                    help="include the one-row graph health report in "
                         "the JSON summary")
    lg.add_argument("--hits", action="store_true",
                    help="also write HITS hub/authority ranks")
    lg.add_argument("--trust-seeds", metavar="HOST,HOST,...",
                    default=None,
                    help="also write TrustRank ranks + spam mass "
                         "teleporting to these seed hosts")

    pl = sub.add_parser(
        "pipeline",
        help="corpus -> quality filter -> dedup -> epoch shuffle -> "
             "packed training shards, one job")
    pl.add_argument("--input", required=True, help="documents parquet")
    pl.add_argument("--output", required=True, help="shard sink dir")
    pl.add_argument("--seq-len", type=int, default=2048)
    pl.add_argument("--seqs-per-shard", type=int, default=1024)
    pl.add_argument("--shuffle-seed", type=int, default=0)
    pl.add_argument("--min-tokens", type=int, default=25)
    pl.add_argument("--min-quality", type=float, default=0.35)
    pl.add_argument("--max-rep", type=float, default=0.4)
    pl.add_argument("--near-dedup", action="store_true",
                    help="also MinHash-LSH near-dedup (keep one per "
                         "connected component)")
    pl.add_argument("--split", action="append", default=[],
                    metavar="NAME=FRAC",
                    help="hash-split after dedup (repeatable; fracs "
                         "must sum to 1). Non-train splits land as "
                         "parquet under <output>/split_<name>; only "
                         "'train' (or the first name) is packed. The "
                         "leakage audit runs and is reported — 0 by "
                         "construction, because dedup precedes the "
                         "split")
    pl.add_argument("--id-col", default="doc_id")
    pl.add_argument("--text-col", default="text")

    tp = sub.add_parser("traps", help="crawler-trap detection: per-"
                        "(host, path-template) URL concentration")
    tp.add_argument("--pages", required=True, help="pages parquet (url)")
    tp.add_argument("--min-urls", type=int, default=8)
    tp.add_argument("--output", default=None,
                    help="optionally write template rows parquet")

    fu = sub.add_parser("funnel", help="single-scan cleaning-funnel "
                        "report (length -> quality -> exact dedup)")
    fu.add_argument("--input", required=True, help="documents parquet")
    fu.add_argument("--min-tokens", type=int, default=25)
    fu.add_argument("--min-quality-micro", type=int, default=350_000)
    fu.add_argument("--text-col", default="text")

    px = sub.add_parser("perplexity", help="LM perplexity scoring "
                        "against a clean reference corpus")
    px.add_argument("--input", required=True, help="documents parquet")
    px.add_argument("--reference", required=True,
                    help="clean reference parquet")
    px.add_argument("--order", type=int, choices=[2, 3], default=2,
                    help="2 = interpolated KN bigram, 3 = full "
                         "Chen-Goodman trigram chain")
    px.add_argument("--buckets", type=int, default=4096)
    px.add_argument("--output", required=True,
                    help="per-doc scores parquet")
    px.add_argument("--id-col", default="doc_id")
    px.add_argument("--text-col", default="text")

    oo = sub.add_parser("optout", help="per-agent robots.txt opt-out "
                        "governance audit")
    oo.add_argument("--pages", required=True, help="pages parquet (url)")
    oo.add_argument("--robots", required=True,
                    help="robots parquet (host, robots_txt)")
    oo.add_argument("--agents", default="gptbot,ccbot,*",
                    help="comma-separated agent tokens")

    cu = sub.add_parser("curate", help="gate -> exact-dedup -> per-"
                        "language quota sample, one composed plan")
    cu.add_argument("--input", required=True,
                    help="documents parquet (doc_id, text, lang)")
    cu.add_argument("--output", required=True,
                    help="output dir (sample parquet + summary json)")
    cu.add_argument("--min-tokens", type=int, default=25)
    cu.add_argument("--min-quality-micro", type=int, default=350_000)
    cu.add_argument("--per-lang", type=int, default=20)

    args = ap.parse_args(argv)

    from ocr_engine_spark.engine.session import build_session
    spark = build_session(f"ocr-engine-spark-{args.cmd}")

    if args.cmd == "extract":
        from ocr_engine_spark.engine.catalog import (
            ManifestCatalog, run_resumable_extract,
        )
        cat = ManifestCatalog(args.output)
        res = run_resumable_extract(spark, args.input, cat,
                                    table=args.table, n_batches=args.batches,
                                    source_format=args.format)
        print(json.dumps(res))
    elif args.cmd == "evaluate":
        from ocr_engine_spark.engine.catalog import ManifestCatalog
        from ocr_engine_spark.engine.evaluate import (
            evaluate_extractions, summary_metrics,
        )
        cat = ManifestCatalog(args.catalog)
        ext = cat.read_table(spark, args.table)
        golden = spark.read.parquet(args.golden)
        degr = (spark.read.parquet(args.degradations)
                if args.degradations else None)
        ev_df = evaluate_extractions(ext, golden, degr)
        summary_metrics(ev_df).orderBy("scope").show(50, truncate=False)
        if args.wer:
            from pyspark.sql import functions as F
            from ocr_engine_spark.engine.evaluate import with_wer
            g = golden.select(F.col("url").alias("base_url"),
                              F.col("clean_text").alias("__golden"))
            joined = (ext.withColumn(
                "base_url",
                F.regexp_replace("url", r"_degraded_\d+$", ""))
                .join(F.broadcast(g), "base_url"))
            w = with_wer(joined, "__golden", "clean_text")
            (w.agg(F.count("*").alias("n_docs"),
                   F.round(F.avg("wer"), 4).alias("avg_wer"),
                   F.sum((F.col("wer") == 0.0).cast("long"))
                   .alias("n_word_exact"))
             .show(truncate=False))
    elif args.cmd == "stream":
        from ocr_engine_spark.streaming.stream_job import (
            read_pages_stream, start_extraction_stream,
        )
        q = start_extraction_stream(
            read_pages_stream(spark, args.input), args.output,
            args.checkpoint, available_now=not args.continuous)
        q.awaitTermination()
    elif args.cmd == "sessions":
        from ocr_engine_spark.streaming.stream_job import (
            _start_parquet_sink, host_sessions_stream, read_pages_stream,
        )
        s = host_sessions_stream(read_pages_stream(spark, args.input),
                                 gap_min=args.gap_min)
        _start_parquet_sink(s, args.output, args.checkpoint,
                            available_now=not args.continuous
                            ).awaitTermination()
    elif args.cmd == "dedup":
        from ocr_engine_spark.functions.dedup import (
            exact_duplicate_groups, minhash_dedup_pairs,
        )
        docs = spark.read.parquet(args.input)
        groups = exact_duplicate_groups(docs, args.text_col, args.id_col)
        groups.write.mode("overwrite").parquet(
            os.path.join(args.output, "exact_groups"))
        pairs = minhash_dedup_pairs(docs, id_col=args.id_col,
                                    text_col=args.text_col,
                                    threshold=args.threshold)
        pairs.write.mode("overwrite").parquet(
            os.path.join(args.output, "near_dup_pairs"))
        out = {
            "exact_groups": spark.read.parquet(
                os.path.join(args.output, "exact_groups")).count(),
            "near_dup_pairs": spark.read.parquet(
                os.path.join(args.output, "near_dup_pairs")).count()}
        if args.resolve:
            from pyspark.sql import Observation, functions as F
            from ocr_engine_spark.functions.cluster import (
                dedup_decisions, representative_decisions,
            )
            stored = spark.read.parquet(
                os.path.join(args.output, "near_dup_pairs"))
            # decisions are tiny (near-dup nodes only): persist so the
            # clusters write, the loser anti-join side and the count
            # share one computation
            if args.keep_best:
                decisions = representative_decisions(
                    stored, docs.select(args.id_col, args.keep_best),
                    id_col=args.id_col, score_col=args.keep_best)
                # downstream reads the dedup_decisions column contract
                if args.id_col != "doc_id":
                    decisions = decisions.withColumnRenamed(
                        args.id_col, "doc_id")
                decisions = decisions.persist()
            else:
                decisions = dedup_decisions(stored).persist()
            decisions.write.mode("overwrite").parquet(
                os.path.join(args.output, "clusters"))
            losers = (decisions.filter(~F.col("keep"))
                      .select(F.col("doc_id").alias(args.id_col)))
            kept = docs.join(losers, args.id_col, "left_anti")
            # kept-count rides on the write via observe() — never a
            # second scan of the just-written corpus (catalog.py
            # pattern)
            obs = Observation("dedup_kept")
            kept.observe(obs, F.count(F.lit(1)).alias("n")) \
                .write.mode("overwrite").parquet(
                    os.path.join(args.output, "deduped"))
            out["clusters"] = decisions.count()
            out["kept_docs"] = obs.get["n"]
            decisions.unpersist()
        if args.mirrors:
            from ocr_engine_spark.functions.dedup import mirror_host_pairs
            mp = mirror_host_pairs(docs, url_col=args.url_col,
                                   text_col=args.text_col)
            mp.write.mode("overwrite").parquet(
                os.path.join(args.output, "mirror_hosts"))
            out["mirror_host_pairs"] = spark.read.parquet(
                os.path.join(args.output, "mirror_hosts")).count()
        print(json.dumps(out))
    elif args.cmd == "index":
        from ocr_engine_spark.functions.similarity import IvfIndex
        emb = spark.read.parquet(args.input)
        IvfIndex.build(emb, args.output, n_centroids=args.centroids)
        print(json.dumps({"index": args.output,
                          "n_centroids": args.centroids}))
    elif args.cmd == "search":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.similarity import IvfIndex
        idx = IvfIndex.load(spark, args.index)
        emb = spark.read.parquet(args.input)
        qrow = emb.filter(F.col(idx.id_col) == args.query_id).first()
        if qrow is None:
            print(f"error: --query-id {args.query_id} not found in "
                  f"{args.input}", file=sys.stderr)
            spark.stop()
            return 2
        qv = [float(x) for x in qrow[idx.vec_col]]
        rows = idx.topk(spark, qv, k=args.k, n_probe=args.probes).collect()
        print(json.dumps([{"vec_id": r[0], "cosine": r[1]}
                          for r in rows]))
    elif args.cmd == "textindex":
        from ocr_engine_spark.functions.search import SearchIndex
        docs = spark.read.parquet(args.input)
        idx = SearchIndex.build(docs, args.output, buckets=args.buckets)
        print(json.dumps({"index": args.output, "buckets": idx.buckets,
                          "n_docs": idx.n_docs,
                          "total_dl": idx.total_dl}))
    elif args.cmd == "textsearch":
        from ocr_engine_spark.functions.search import SearchIndex
        idx = SearchIndex.load(spark, args.index)
        if args.phrase:
            rows = (idx.phrase(spark, args.query)
                    .orderBy(idx.id_col).limit(args.k).collect())
            print(json.dumps([{"doc_id": r[idx.id_col],
                               "n_matches": r["n_matches"],
                               "first_pos": r["first_pos"]}
                              for r in rows]))
        else:
            rows = idx.search(spark, args.query, k=args.k).collect()
            print(json.dumps([{"rank": r["rank"], "doc_id": r[idx.id_col],
                               "score_micro": r["score_micro"],
                               "n_terms_hit": r["n_terms_hit"]}
                              for r in rows]))
    elif args.cmd == "classify":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.classify import nb_fit, nb_predict
        ns = (2, 3) if args.features == "char" else (1, 2)
        train = spark.read.parquet(args.train)
        labels, cond = nb_fit(train, buckets=args.buckets,
                              label_col=args.label_col,
                              ns=ns, features=args.features)
        labels, cond = labels.persist(), cond.persist()
        pred = nb_predict(spark.read.parquet(args.input), labels, cond,
                          buckets=args.buckets,
                          ns=ns, features=args.features)
        pred.write.mode("overwrite").parquet(args.output)
        dist = (spark.read.parquet(args.output)
                .groupBy("pred_label").agg(F.count("*").alias("n"))
                .orderBy("pred_label").collect())
        print(json.dumps({"predictions": args.output,
                          "by_label": {r["pred_label"]: r["n"]
                                       for r in dist}}))
    elif args.cmd == "profile":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.text import (
            bpe_token_count_col, lang_guess_col, quality_score_col,
            token_count_col,
        )
        docs = spark.read.parquet(args.input)
        prof = docs.select(
            "doc_id", "source",
            lang_guess_col(F.col("text")).alias("guessed_lang"),
            token_count_col(F.col("text")).alias("n_tokens"),
            bpe_token_count_col(F.col("text")).alias("n_bpe_tokens"),
            quality_score_col(F.col("text")).alias("quality"))
        prof.write.mode("overwrite").parquet(args.output)
        prof.groupBy("guessed_lang").agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality")).show()
    elif args.cmd == "select":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.dsir import dsir_select
        docs = spark.read.parquet(args.input)
        target = spark.read.parquet(args.target)
        sel = dsir_select(docs, target, args.k, buckets=args.buckets,
                          seed=args.seed, id_col=args.id_col,
                          text_col=args.text_col)
        # join back the full rows of the selected ids (selection output
        # is tiny: k rows)
        out = docs.join(F.broadcast(sel.select(args.id_col, "rank")),
                        args.id_col)
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({
            "selected": spark.read.parquet(args.output).count(),
            "k": args.k, "buckets": args.buckets, "seed": args.seed}))
    elif args.cmd == "mix":
        from pyspark.sql import Observation, functions as F
        from ocr_engine_spark.functions.sample import (
            quota_sample, temperature_sample,
        )
        if not args.quota and args.total is None:
            raise SystemExit("mix: pass --total (temperature) or "
                             "--quota STRATUM=N (explicit recipe)")
        docs = spark.read.parquet(args.input)
        if args.quota:
            quotas = {}
            for spec in args.quota:
                stratum, _, n = spec.partition("=")
                if not _ or not n.lstrip("-").isdigit():
                    raise SystemExit(f"--quota expects STRATUM=N: {spec!r}")
                quotas[stratum] = int(n)
            mixed = quota_sample(docs, quotas,
                                 strata_col=args.strata_col,
                                 id_col=args.id_col)
            params = {"quotas": quotas}
        else:
            mixed = temperature_sample(docs, alpha=args.alpha,
                                       total_out=args.total,
                                       strata_col=args.strata_col,
                                       id_col=args.id_col)
            params = {"alpha": args.alpha, "total": args.total}
        obs = Observation("mix_rows")
        mixed.observe(obs, F.count(F.lit(1)).alias("n")) \
            .write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rows": obs.get["n"], **params}))
    elif args.cmd == "decontam":
        from pyspark.sql import Observation, functions as F
        docs = spark.read.parquet(args.input)
        bench = spark.read.parquet(args.benchmark)
        if args.fraction_micro is not None:
            from ocr_engine_spark.functions.decontam import (
                contamination_fraction,
            )
            report = (contamination_fraction(
                docs, bench, n=args.ngram, id_col=args.id_col,
                text_col=args.text_col)
                .filter(F.col("hit_frac_micro")
                        >= args.fraction_micro))
        elif args.bloom:
            from ocr_engine_spark.functions.bloom import (
                contamination_report_bloom,
            )
            report = contamination_report_bloom(
                docs, bench, n=args.ngram, m_bits=args.m_bits,
                k=args.hashes, id_col=args.id_col,
                text_col=args.text_col)
        else:
            from ocr_engine_spark.functions.decontam import (
                contamination_report,
            )
            report = contamination_report(docs, bench, n=args.ngram,
                                          id_col=args.id_col,
                                          text_col=args.text_col)
        flagged = report.persist()
        clean = docs.join(flagged.select(args.id_col), args.id_col,
                          "left_anti")
        obs = Observation("decontam_kept")
        clean.observe(obs, F.count(F.lit(1)).alias("n")) \
            .write.mode("overwrite").parquet(args.output)
        out = {"contaminated": flagged.count(), "kept": obs.get["n"],
               "path": ("fraction" if args.fraction_micro is not None
                        else "bloom" if args.bloom else "exact")}
        if args.spans:
            from ocr_engine_spark.functions.decontam import (
                contamination_spans,
            )
            sp = contamination_spans(docs, bench, n=args.ngram,
                                     id_col=args.id_col,
                                     text_col=args.text_col)
            sp.write.mode("overwrite").parquet(args.output + "_spans")
            out["spans"] = spark.read.parquet(
                args.output + "_spans").count()
        print(json.dumps(out))
        flagged.unpersist()
    elif args.cmd == "pack":
        from ocr_engine_spark.functions.pack import pack_sequences
        from ocr_engine_spark.functions.shards import (
            verify_shards, write_training_shards,
        )
        docs = spark.read.parquet(args.input)
        pack_id = args.id_col
        if args.shuffle_seed is not None:
            from ocr_engine_spark.functions.sample import shuffle_corpus
            docs = shuffle_corpus(docs, seed=args.shuffle_seed,
                                  id_col=args.id_col)
            pack_id = "shuffle_pos"  # pack in epoch-shuffled order
        seqs = pack_sequences(docs, seq_len=args.seq_len,
                              id_col=pack_id, text_col=args.text_col)
        stats = write_training_shards(seqs, args.output,
                                      seqs_per_shard=args.seqs_per_shard)
        out = {"n_shards": stats["n_shards"], "n_seqs": stats["n_seqs"],
               "seq_len": args.seq_len,
               "seqs_per_shard": args.seqs_per_shard,
               "shuffle_seed": args.shuffle_seed}
        if args.verify:
            out["verify_mismatches"] = verify_shards(
                spark, args.output).count()
        print(json.dumps(out))
    elif args.cmd == "pipeline":
        from pyspark.sql import functions as F

        from ocr_engine_spark.functions.dedup import drop_exact_duplicates
        from ocr_engine_spark.functions.pack import pack_sequences
        from ocr_engine_spark.functions.sample import shuffle_corpus
        from ocr_engine_spark.functions.shards import (
            verify_shards, write_training_shards,
        )
        from ocr_engine_spark.functions.text import (
            quality_score_col, token_count_col, with_repetition_ratio,
        )
        docs = spark.read.parquet(args.input)
        n_in = docs.count()
        scored = with_repetition_ratio(docs, args.text_col, n=3)
        t = F.col(args.text_col)
        kept = ((token_count_col(t) >= args.min_tokens)
                & (quality_score_col(t) >= args.min_quality)
                & (F.col("rep_ratio") <= args.max_rep))
        clean = scored.filter(kept).drop("rep_ratio").persist()
        n_clean = clean.count()
        deduped = drop_exact_duplicates(clean, text_col=args.text_col)
        if args.near_dedup:
            from ocr_engine_spark.functions.cluster import (
                drop_near_duplicates,
            )
            deduped = drop_near_duplicates(deduped, id_col=args.id_col,
                                           text_col=args.text_col)
        deduped = deduped.persist()
        n_dedup = deduped.count()
        split_counts: dict[str, int] = {}
        eval_leaks = None
        to_pack = deduped
        if args.split:
            from ocr_engine_spark.functions.sample import (
                split_corpus, split_leakage_report,
            )
            weights = {}
            for spec in args.split:
                name, _, frac = spec.partition("=")
                if not _:
                    raise SystemExit(f"--split expects NAME=FRAC: {spec!r}")
                weights[name] = float(frac)
            train = "train" if "train" in weights else next(iter(weights))
            assigned = split_corpus(deduped, weights,
                                    id_col=args.id_col).persist()
            # the audit that makes the guarantee checkable: dedup ran
            # BEFORE the split, so no fingerprint can straddle splits
            eval_leaks = split_leakage_report(
                deduped, weights, id_col=args.id_col,
                text_col=args.text_col).count()
            for name in weights:
                if name == train:
                    continue
                part = assigned.filter(F.col("split") == name) \
                               .drop("split")
                dest = os.path.join(args.output, f"split_{name}")
                part.write.mode("overwrite").parquet(dest)
                split_counts[name] = spark.read.parquet(dest).count()
            to_pack = assigned.filter(F.col("split") == train) \
                              .drop("split")
        shuffled = shuffle_corpus(to_pack, seed=args.shuffle_seed,
                                  id_col=args.id_col)
        seqs = pack_sequences(shuffled, seq_len=args.seq_len,
                              id_col="shuffle_pos",
                              text_col=args.text_col)
        stats = write_training_shards(seqs, args.output,
                                      seqs_per_shard=args.seqs_per_shard)
        clean.unpersist()
        deduped.unpersist()
        out = {
            "n_input": n_in, "n_after_quality": n_clean,
            "n_after_dedup": n_dedup,
            "n_seqs": stats["n_seqs"], "n_shards": stats["n_shards"],
            "seq_len": args.seq_len, "shuffle_seed": args.shuffle_seed,
            "near_dedup": bool(args.near_dedup),
            "verify_mismatches": verify_shards(spark,
                                               args.output).count()}
        if args.split:
            out["splits"] = split_counts
            out["eval_leaks"] = eval_leaks
        print(json.dumps(out))
    elif args.cmd == "snapshot":
        from pyspark.sql import functions as F

        from ocr_engine_spark.functions.snapshot import snapshot_diff
        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        diff = snapshot_diff(old, new, key_col=args.key_col,
                             text_col=args.text_col)
        if args.output:
            diff.write.mode("overwrite").parquet(args.output)
            diff = spark.read.parquet(args.output)  # count what landed
        counts = {r["status"]: r["n"] for r in
                  diff.groupBy("status").agg(F.count("*").alias("n"))
                  .collect()}
        print(json.dumps({"statuses": counts,
                          "total": sum(counts.values()),
                          "out": args.output}))
    elif args.cmd == "gopher":
        from pyspark.sql import functions as F

        from ocr_engine_spark.functions import gopher
        docs = spark.read.parquet(args.input)
        rep = gopher.gopher_report(docs, args.text_col) \
            .collect()[0].asDict()  # 1-row report
        unknown = set(args.skip_rule) - set(gopher.RULES)
        if unknown:
            raise SystemExit(f"unknown --skip-rule: {sorted(unknown)}")
        rules = [r for r in gopher.RULES if r not in set(args.skip_rule)]
        kept = gopher.filter_gopher(docs, args.text_col, rules=rules)
        if args.ngrams:
            sig = gopher.gopher_ngram_signals(
                kept, id_col=args.id_col, text_col=args.text_col)
            bad = (sig.filter(gopher.gopher_ngram_fail_col())
                   .select(F.col(args.id_col)))
            rep["fail_ngram_repetition"] = bad.count()
            kept = kept.join(bad, args.id_col, "left_anti")
        if args.output:
            kept.write.mode("overwrite").parquet(args.output)
            rep["n_written"] = spark.read.parquet(args.output).count()
        print(json.dumps(rep))
    elif args.cmd == "drift":
        from ocr_engine_spark.functions.drift import (
            distribution_drift, drift_summary,
        )
        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
        if args.output:
            (distribution_drift(old, new, args.column, alpha=args.alpha)
             .write.mode("overwrite").parquet(args.output))
        s = drift_summary(old, new, args.column, alpha=args.alpha) \
            .collect()[0].asDict()  # 1-row gate
        s["column"] = args.column
        print(json.dumps(s))
    elif args.cmd == "chunk":
        from ocr_engine_spark.functions.chunk import chunk_documents
        docs = spark.read.parquet(args.input)
        chunks = chunk_documents(docs, chunk_tokens=args.chunk_tokens,
                                 stride=args.stride, id_col=args.id_col,
                                 text_col=args.text_col)
        chunks.write.mode("overwrite").parquet(args.output)
        written = spark.read.parquet(args.output)
        print(json.dumps({
            "n_chunks": written.count(),
            "n_docs": written.select(args.id_col).distinct().count(),
            "chunk_tokens": args.chunk_tokens, "stride": args.stride}))
    elif args.cmd == "linkgraph":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.linkgraph import (
            host_edges, pagerank,
        )
        pages = spark.read.parquet(args.input)
        edges = host_edges(pages)
        edges.write.mode("overwrite").parquet(
            os.path.join(args.output, "edges"))
        edges = spark.read.parquet(os.path.join(args.output, "edges"))
        ranks = pagerank(edges, iterations=args.iterations,
                         damping_pct=args.damping_pct)
        ranks.write.mode("overwrite").parquet(
            os.path.join(args.output, "ranks"))
        ranks = spark.read.parquet(os.path.join(args.output, "ranks"))
        top = [{"host": r["node"], "rank_micro": r["rank"]}
               for r in ranks.orderBy(F.desc("rank"), "node")
                             .limit(args.top).collect()]
        out = {"hosts": ranks.count(), "edges": edges.count(),
               "iterations": args.iterations, "top": top}
        if args.harmonic:
            from ocr_engine_spark.functions.linkgraph import (
                harmonic_centrality,
            )
            hc = harmonic_centrality(edges, iterations=args.iterations)
            hc.write.mode("overwrite").parquet(
                os.path.join(args.output, "harmonic"))
            out["harmonic_hosts"] = spark.read.parquet(
                os.path.join(args.output, "harmonic")).count()
        if args.stats:
            from ocr_engine_spark.functions.linkgraph import graph_stats
            out["stats"] = graph_stats(edges).collect()[0].asDict()
        if args.hits:
            from ocr_engine_spark.functions.linkgraph import hits
            ha = hits(edges, iterations=args.iterations)
            ha.write.mode("overwrite").parquet(
                os.path.join(args.output, "hits"))
            out["hits_hosts"] = spark.read.parquet(
                os.path.join(args.output, "hits")).count()
        if args.trust_seeds is not None:
            from ocr_engine_spark.functions.linkgraph import trustrank
            seeds = spark.createDataFrame(
                [(h.strip(),) for h in args.trust_seeds.split(",")
                 if h.strip()], "node string")
            tr = trustrank(edges, seeds, iterations=args.iterations,
                           damping_pct=args.damping_pct)
            sm = (tr.join(ranks, "node")
                  .select("node", "trust", "rank",
                          F.when(F.col("rank") <= 0, F.lit(0))
                          .otherwise(F.expr(
                              "((rank - trust) * 1000000) div rank"))
                          .cast("long").alias("spam_mass_micro")))
            sm.write.mode("overwrite").parquet(
                os.path.join(args.output, "trust"))
            out["trust_hosts"] = spark.read.parquet(
                os.path.join(args.output, "trust")).count()
        if args.frontier is not None:
            from ocr_engine_spark.functions.linkgraph import (
                crawl_frontier,
            )
            fr = crawl_frontier(pages, ranks, now_epoch=args.frontier,
                                per_host_budget=args.per_host_budget,
                                top_n=args.frontier_top)
            fr.write.mode("overwrite").parquet(
                os.path.join(args.output, "frontier"))
            out["frontier_urls"] = spark.read.parquet(
                os.path.join(args.output, "frontier")).count()
        print(json.dumps(out))
    elif args.cmd == "discover":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.robots import feed_links
        from ocr_engine_spark.functions.scrub import (
            hreflang_records, og_metadata, page_metadata,
        )
        pages = spark.read.parquet(args.input).select("url", "html")
        feeds = feed_links(pages)
        alts = hreflang_records(pages)
        meta = (page_metadata(pages)
                .join(og_metadata(pages), "url"))
        out = {}
        for name, df in (("feeds", feeds), ("alternates", alts),
                         ("metadata", meta)):
            path = os.path.join(args.output, name)
            df.write.mode("overwrite").parquet(path)
            out[name] = spark.read.parquet(path).count()
        out["pages"] = pages.count()
        print(json.dumps({"output": args.output, "counts": out}))
    elif args.cmd == "robots":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.robots import robots_decisions
        pages = spark.read.parquet(args.pages)
        robots = spark.read.parquet(args.robots)
        dec = robots_decisions(pages, robots, agent=args.agent)
        if args.output:
            dec.write.mode("overwrite").parquet(args.output)
            dec = spark.read.parquet(args.output)
        stats = (dec.agg(F.count("*").alias("urls"),
                         F.coalesce(F.sum(F.col("allowed").cast("int")),
                                    F.lit(0)).alias("allowed")).first())
        print(json.dumps({"agent": args.agent,
                          "urls": stats["urls"],
                          "allowed": int(stats["allowed"]),
                          "blocked": stats["urls"] - int(stats["allowed"])}))
    elif args.cmd == "bpe":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.bpe import encode_bpe, train_bpe
        docs = spark.read.parquet(args.input)
        merges = train_bpe(docs, args.merges, text_col=args.text_col,
                           min_pair_count=args.min_pair_count)
        (spark.createDataFrame(
            [(m["rank"], m["p1"], m["p2"], m["merged"], m["pair_count"])
             for m in merges],
            schema="merge_rank INT, p1 STRING, p2 STRING, merged STRING, "
                   "pair_count BIGINT")
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(args.output, "merges")))
        out = {"n_merges": len(merges),
               "merges": [m["merged"] for m in merges]}
        if args.encode and merges:
            toks = encode_bpe(docs, merges, id_col=args.id_col,
                              text_col=args.text_col)
            toks.write.mode("overwrite").parquet(
                os.path.join(args.output, "tokens"))
            stats = (spark.read.parquet(os.path.join(args.output, "tokens"))
                     .agg(F.count("*").alias("docs"),
                          F.coalesce(F.sum(F.size("tokens")), F.lit(0))
                          .alias("tokens"))
                     .first())
            out["encoded_docs"] = stats["docs"]
            out["total_tokens"] = int(stats["tokens"])
        print(json.dumps(out))
    elif args.cmd == "traps":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.scrub import url_trap_report
        pages = spark.read.parquet(args.pages)
        rep = url_trap_report(pages, trap_min_urls=args.min_urls)
        if args.output:
            rep.write.mode("overwrite").parquet(args.output)
            rep = spark.read.parquet(args.output)
        stats = rep.agg(
            F.countDistinct("host").alias("hosts"),
            F.count("*").alias("templates"),
            F.coalesce(F.sum(F.col("is_trap").cast("long")), F.lit(0))
            .alias("trap_templates"),
            F.coalesce(F.sum(F.when(F.col("is_trap"),
                                    F.col("n_urls"))), F.lit(0))
            .alias("trapped_urls")).first()
        print(json.dumps({"hosts": stats["hosts"],
                          "templates": stats["templates"],
                          "trap_templates": int(stats["trap_templates"]),
                          "trapped_urls": int(stats["trapped_urls"])}))
    elif args.cmd == "funnel":
        from ocr_engine_spark.functions.funnel import filter_funnel
        docs = spark.read.parquet(args.input)
        rows = (filter_funnel(docs, min_tokens=args.min_tokens,
                              min_quality_micro=args.min_quality_micro,
                              text_col=args.text_col)
                .orderBy("stage_idx").collect())
        print(json.dumps([{
            "stage": r["stage"], "n_in": r["n_in"],
            "n_kept": r["n_kept"], "drop_ppm": r["drop_ppm"]}
            for r in rows]))
    elif args.cmd == "perplexity":
        from pyspark.sql import functions as F
        docs = spark.read.parquet(args.input)
        ref = spark.read.parquet(args.reference)
        from ocr_engine_spark.functions.lm import (
            doc_log_ppl_kn, fit_kn_bigram_lm, fit_kn_trigram_lm,
        )
        fit = fit_kn_bigram_lm if args.order == 2 else fit_kn_trigram_lm
        model = fit(ref, buckets=args.buckets, id_col=args.id_col,
                    text_col=args.text_col)
        scored = doc_log_ppl_kn(docs, *model, buckets=args.buckets,
                                id_col=args.id_col, text_col=args.text_col)
        scored.write.mode("overwrite").parquet(args.output)
        st = (spark.read.parquet(args.output)
              .agg(F.count("*").alias("docs"),
                   F.min("log_ppl_micro").alias("min"),
                   F.max("log_ppl_micro").alias("max")).first())
        print(json.dumps({"order": args.order, "docs": st["docs"],
                          "log_ppl_micro_min": int(st["min"]),
                          "log_ppl_micro_max": int(st["max"])}))
    elif args.cmd == "curate":
        import os as _os

        from ocr_engine_spark.functions.curation import (
            curate_corpus, curation_summary,
        )
        docs = spark.read.parquet(args.input)
        kw = dict(min_tokens=args.min_tokens,
                  min_quality_micro=args.min_quality_micro,
                  n_per_lang=args.per_lang)
        curate_corpus(docs, **kw).write.mode("overwrite") \
            .parquet(_os.path.join(args.output, "sample"))
        rows = [r.asDict() for r in
                curation_summary(docs, **kw).collect()]
        print(json.dumps({"langs": rows,
                          "sample": _os.path.join(args.output,
                                                  "sample")}))
    elif args.cmd == "optout":
        from pyspark.sql import functions as F
        from ocr_engine_spark.functions.robots import robots_decisions
        pages = spark.read.parquet(args.pages)
        robots = spark.read.parquet(args.robots)
        out = []
        for agent in args.agents.split(","):
            dec = robots_decisions(pages, robots, agent=agent)
            st = dec.agg(
                F.count("*").alias("urls"),
                F.coalesce(F.sum((~F.col("allowed")).cast("long")),
                           F.lit(0)).alias("blocked")).first()
            out.append({"agent": agent, "urls": st["urls"],
                        "blocked": int(st["blocked"])})
        print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
