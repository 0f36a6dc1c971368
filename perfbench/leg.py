"""One benchmark leg: a fresh process with its own SparkSession.

Usage: ``python3 perfbench/leg.py <config.json>``. The config names the
mode, the workload, the corpus directory and where to write the result.
``run.py`` builds the config and launches this file with the Spark
launch settings in ``PYSPARK_SUBMIT_ARGS``.

Modes (each starts with the session build and the warm-up action):
  run    the workload: an untimed check pass, untimed warm runs, then
         the timed loop; traced, also the per-layer legs named in the
         config's ``extras`` (corpus operators, catalog drill).
  setup  nothing more: one more sample of the set-up time.
  scale  timed extraction only, at the configured width, on as many CPUs.
  pin    the digests of the extraction output.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import threading
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import tracing  # noqa: E402

MIN_ITERATIONS = 1
RSS_POLL_S = 0.1
# after the check pass the noop plan keeps getting faster for about 5 s
# while the JVM compiles it (on extract_light ~15 % between its 1st and
# 5th run); later runs are within a few percent of each other
WARM_S = 5.0
NOFIELDS_RUNS = 2
DEDUP_THRESHOLD = 0.9
SHINGLE_N = 3
HLL_B = 10
LM_BUCKETS = 4096
CURATION = {"min_tokens": 25, "min_quality_micro": 350_000,
            "n_per_lang": 20}
OPS = ("dedup", "sketch", "lm", "curation")
OPS_SAMPLE = 3
DRILL_BATCHES = 8
DRILL_CRASH_AFTER = 4


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


class RssPeak:
    """Peak resident memory of this process and all its descendants
    (driver JVM and Python workers), polled from /proc. ``reset`` starts
    a new window, so each timed iteration gets its own peak."""

    def __init__(self) -> None:
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _poll(self) -> None:
        while not self._stop.is_set():
            rss = self._tree_rss()
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(RSS_POLL_S)

    def reset(self) -> None:
        rss = self._tree_rss()
        with self._lock:
            self.peak = rss

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _warm(batches):
    """Warm-up body run in the Python workers: imports the kernels."""
    import ocr_engine_spark.kernels.clean  # noqa: F401
    import ocr_engine_spark.kernels.html_extract  # noqa: F401
    import ocr_engine_spark.kernels.pdf_extract  # noqa: F401
    yield from batches


def setup(cores: int, tr: tracing.Tracer):
    """Session build plus the first, untimed warm-up action."""
    t0 = time.perf_counter()
    with tr.span("build_session"):
        from ocr_engine_spark.engine.session import build_session
        spark = build_session("perfbench", master=f"local[{cores}]")
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setJobGroup("warm", "warm-up", False)
    with tr.span("warm_up"):
        (spark.range(0, cores, 1, cores).mapInArrow(_warm, "id long")
         .write.format("noop").mode("overwrite").save())
    t2 = time.perf_counter()
    return spark, {"build_s": t1 - t0, "first_action_s": t2 - t1,
                   "setup_s": t2 - t0,
                   "arrow_batch_rows": int(spark.conf.get(
                       "spark.sql.execution.arrow.maxRecordsPerBatch"))}


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and its
    descendants (driver JVM, Python workers), reaped children included."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def timed_loop(seconds: float, job, res: dict) -> None:
    """Run ``job(i)`` until ``seconds`` have passed (and at least
    ``MIN_ITERATIONS`` times). Records each call's wall time in
    ``res["job_times"]``, the CPU seconds the process tree used during
    the call in ``res["job_cpu"]`` and its peak RSS during the call in
    ``res["peak_rss"]``."""
    res["job_times"], res["job_cpu"], res["peak_rss"] = [], [], []
    start = time.perf_counter()
    with RssPeak() as rss:
        while len(res["job_times"]) < MIN_ITERATIONS or \
                time.perf_counter() - start < seconds:
            rss.reset()
            cpu = tree_cpu_s()
            t = time.perf_counter()
            job(len(res["job_times"]))
            res["job_times"].append(time.perf_counter() - t)
            res["job_cpu"].append(tree_cpu_s() - cpu)
            res["peak_rss"].append(rss.peak)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def extract_rows(spark, corpus: str, out_dir: str) -> list[dict]:
    """Untimed: the extraction of ``corpus`` into a parquet sink, read
    back with pyarrow."""
    from ocr_engine_spark.engine.extract_job import extract_pages, read_pages
    spark.sparkContext.setJobGroup("check", "check", False)
    pages = read_pages(spark, os.path.join(corpus, "pages.parquet"))
    extract_pages(pages).write.mode("overwrite").parquet(out_dir)
    return checks.read_table_dir(out_dir)


def extraction_job(spark, corpus: str, tr: tracing.Tracer):
    """The timed action, ``job(i, group, with_fields)``: ``read_pages`` →
    ``extract_pages`` → noop write, under job group ``<group>.<i>``."""
    from ocr_engine_spark.engine.extract_job import extract_pages, read_pages
    pages_path = os.path.join(corpus, "pages.parquet")
    sc = spark.sparkContext

    def job(i, group="job", with_fields=True):
        with tr.span("read_pages"):
            pages = read_pages(spark, pages_path)
        with tr.span("extract_pages"):
            out = extract_pages(pages, with_fields=with_fields)
        sc.setJobGroup(f"{group}.{i}", group, False)
        with tr.span(f"{group}.sink", iteration=i):
            _noop(out)
    return job


def extraction(spark, cfg: dict, tr: tracing.Tracer, res: dict) -> None:
    job = extraction_job(spark, cfg["corpus"], tr)
    # untimed check pass: the same plan into a parquet sink, read back
    # with pyarrow and compared with the generator's goldens
    out_dir = os.path.join(cfg["tmp"], "check")
    rows = extract_rows(spark, cfg["corpus"], out_dir)
    res["check"] = checks.check_extractions(rows, cfg["corpus"],
                                            cfg["pin_key"])
    res["docs"] = res["check"]["docs"]
    res["fields_guard_pass_frac"] = guard_pass_frac(rows)

    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < WARM_S:
        job(i, group="warm")
        i += 1
    timed_loop(cfg["seconds"], job, res)
    if cfg["trace"]:
        res["nofields_times"] = []
        for i in range(NOFIELDS_RUNS):
            t = time.perf_counter()
            job(i, group="nofields", with_fields=False)
            res["nofields_times"].append(time.perf_counter() - t)
        res["kernels"] = direct_extract_batch(
            os.path.join(cfg["corpus"], "pages.parquet"),
            res["setup"]["arrow_batch_rows"], tr)
    # layers that extraction does not run, measured in this (warm) session
    # on the same corpus, so no session-wide setting differs
    if "corpus_ops" in cfg["extras"]:
        res["ops"] = corpus_ops(spark, cfg, tr, out_dir, rows)
    if "drill" in cfg["extras"]:
        res["drill"] = resume_drill(spark, cfg, tr)
    shutil.rmtree(out_dir)


def guard_pass_frac(rows: list[dict]) -> float:
    """Share of docs whose clean text contains the literal prefix of at
    least one field pattern: the benchmark's estimate of the substring
    guards of ``fields_columns``, from the program's pattern table and
    prefix regex (the guard columns themselves are not observable)."""
    from ocr_engine_spark.engine.extract_job import _LITERAL_PREFIX_RE
    from ocr_engine_spark.kernels.fields import FIELD_PATTERNS
    needles = []
    for pattern, _ in FIELD_PATTERNS.values():
        m = _LITERAL_PREFIX_RE.match(pattern)
        needle = m.group(0) if m else ""
        if needle and len(pattern) > len(needle) \
                and pattern[len(needle)] in "?*{":
            needle = needle[:-1]
        needles.append(needle)
    hit = sum(1 for r in rows
              if r["clean_text"] is not None
              and any(n in r["clean_text"] for n in needles))
    return hit / len(rows) if rows else 0.0


def direct_extract_batch(pages_path: str, batch_rows: int,
                         tr: tracing.Tracer) -> dict:
    """Call ``extract_batch_arrow`` in this process on the corpus's Arrow
    batches of the session's ``batch_rows``, with each kernel call timed
    through a wrapper. The first of two passes warms the kernels; the
    second is reported."""
    import ocr_engine_spark.kernels.clean as kc
    import ocr_engine_spark.kernels.html_extract as kh
    import ocr_engine_spark.kernels.pdf_extract as kp
    from ocr_engine_spark.engine.extract_job import extract_batch_arrow

    calls = {"html_extract": [], "pdf_extract": [], "clean": []}
    changed = [0]

    def timed(name, fn, is_clean=False):
        def wrapper(x):
            t = time.perf_counter()
            out = fn(x)
            calls[name].append(time.perf_counter() - t)
            if is_clean and out != x:
                changed[0] += 1
            return out
        return wrapper

    saved = (kh.extract_html, kp.extract_pdf, kc.clean_text)
    kh.extract_html = timed("html_extract", saved[0])
    kp.extract_pdf = timed("pdf_extract", saved[1])
    kc.clean_text = timed("clean", saved[2], is_clean=True)
    try:
        table = pq.read_table(pages_path,
                              columns=["url", "warc_ts", "html", "lang"])
        table = table.append_column(
            "partition_id", pa.array([0] * table.num_rows, pa.int32()))
        batches = table.to_batches(max_chunksize=batch_rows)
        for _ in range(2):
            for ts in calls.values():
                ts.clear()
            changed[0] = 0
            with tr.span("extract_batch_arrow", docs=table.num_rows):
                t = time.perf_counter()
                n_out = sum(b.num_rows
                            for b in extract_batch_arrow(iter(batches)))
                total = time.perf_counter() - t
    finally:
        kh.extract_html, kp.extract_pdf, kc.clean_text = saved
    kernel_s = sum(sum(v) for v in calls.values())
    out = {"extract_batch.s": total,
           "extract_batch.glue_ms_per_doc":
               (total - kernel_s) * 1e3 / max(n_out, 1)}
    for name, ts in calls.items():
        ms = [x * 1e3 for x in ts]
        out[f"{name}.docs"] = len(ts)
        out[f"{name}.busy_s"] = sum(ts)
        out[f"{name}.ms_per_doc.p50"] = tracing.quantile(ms, 0.5)
        out[f"{name}.ms_per_doc.p99"] = tracing.quantile(ms, 0.99)
    out["clean.changed_frac"] = changed[0] / max(len(calls["clean"]), 1)
    return out


def resume_drill(spark, cfg: dict, tr: tracing.Tracer) -> dict:
    """``run_resumable_extract`` into a fresh ``ManifestCatalog`` with
    8 batches and an injected crash after 4, then the resume, then
    ``read_table`` into a noop sink."""
    from ocr_engine_spark.engine import catalog as cat_mod
    pages_path = os.path.join(cfg["corpus"], "pages.parquet")
    sc = spark.sparkContext

    class TracedCatalog(cat_mod.ManifestCatalog):
        """The manifest catalog with a span around each public call."""

        def write_batch(self, df, table, batch_id):
            with tr.span("catalog.write_batch", batch=batch_id):
                return super().write_batch(df, table, batch_id)

        def committed_batches(self, table):
            with tr.span("catalog.committed_batches"):
                return super().committed_batches(table)

    def crash(catalog, after: int) -> None:
        try:
            with tr.span("run_resumable_extract", phase="crash"):
                cat_mod.run_resumable_extract(
                    spark, pages_path, catalog, n_batches=DRILL_BATCHES,
                    fail_after_batches=after)
        except RuntimeError as e:
            if not str(e).startswith("injected failure"):
                raise
        else:
            raise RuntimeError("the injected crash did not happen")

    catalog = TracedCatalog(os.path.join(cfg["tmp"], "drill"))
    sc.setJobGroup("drill", "drill", False)
    crash(catalog, DRILL_CRASH_AFTER)
    before = catalog.committed_batches("extractions")
    t1 = time.perf_counter()
    with tr.span("run_resumable_extract", phase="resume"):
        second = cat_mod.run_resumable_extract(
            spark, pages_path, catalog, n_batches=DRILL_BATCHES)
    t2 = time.perf_counter()
    sc.setJobGroup("drill.read", "drill", False)
    with tr.span("read_table"):
        _noop(catalog.read_table(spark, "extractions"))
    return {"resume": {"resume_s": t2 - t1, "ran": second["ran"],
                       "skipped": second["skipped"]},
            "catalog": table_stats(catalog.root),
            "check": check_resume(catalog.root, sorted(before),
                                  second["ran"], cfg),
            "input_bytes": os.path.getsize(pages_path)}


def table_stats(root: str) -> dict:
    files = mb = 0
    for d, _, names in os.walk(os.path.join(root, "extractions")):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                mb += os.path.getsize(os.path.join(d, f)) / 1e6
    return {"files": files, "mb": mb}


def check_resume(root: str, before: list[int], ran: list[int],
                 cfg: dict) -> dict:
    """The resumed table against the goldens, plus rework (batches run
    both before the crash and in the resume) and lineage (the
    ``_metrics`` rows of each batch add up to its rows read back)."""
    table = os.path.join(root, "extractions")
    rows = checks.read_table_dir(table)
    out = checks.check_extractions(rows, cfg["corpus"], cfg["pin_key"])
    rework = len(set(before) & set(ran))
    out["rework_frac"] = rework / DRILL_BATCHES
    metrics = pq.read_table(os.path.join(table, "_metrics")).to_pylist()
    matched = 0
    for b in range(DRILL_BATCHES):
        n_back = pq.read_table(os.path.join(table, f"batch={b}"),
                               columns=["url"]).num_rows
        n_lineage = sum(m["n_rows"] for m in metrics if m["batch_id"] == b)
        matched += n_back == n_lineage
    out["lineage_match_frac"] = matched / DRILL_BATCHES
    out["batches"] = DRILL_BATCHES
    out["n_failed"] += rework + (DRILL_BATCHES - matched)
    return out


def corpus_ops(spark, cfg: dict, tr: tracing.Tracer, docs_path: str,
               ext_rows: list[dict]) -> dict:
    """The ``functions/`` operators over the extraction output written to
    ``docs_path`` by the untimed check pass (``ext_rows`` read back): one
    timed pass, whose results are checked in plain Python. The session
    is warm from the extraction legs, but an operator's time includes its
    own first-call costs (such as Python workers importing it).

    The operators see one in ``OPS_SAMPLE`` docs, chosen by a hash of the
    doc's source url so that every degraded variant stays with its
    source: their time is mostly fixed per-job cost, and the whole
    traced run must stay within its time budget."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.functions import curation, dedup, lm, sketch
    sc = spark.sparkContext
    degr = pq.read_table(os.path.join(cfg["corpus"], "degradations.parquet"),
                         columns=["url", "source_url"]).to_pylist()
    source = {d["url"]: d["source_url"] for d in degr}
    ext_rows = [r for r in ext_rows if zlib.crc32(
        source.get(r["url"], r["url"]).encode()) % OPS_SAMPLE == 0]
    text = {r["url"]: r["clean_text"] for r in ext_rows}
    docs = spark.read.parquet(docs_path).select("url", "lang", "clean_text") \
        .filter(F.col("url").isin(list(text)))
    # minhash_dedup_pairs divides by the union size, which is 0 for two
    # docs without a 3-shingle; dedup only sees docs that have one
    shingled = docs.filter(F.size(F.split(F.trim("clean_text"), r"\s+"))
                           >= SHINGLE_N)
    dedup_text = {u: t for u, t in text.items() if checks.shingles(t)}

    def build(op):
        if op == "dedup":
            return dedup.minhash_dedup_pairs(
                shingled, id_col="url", text_col="clean_text",
                threshold=DEDUP_THRESHOLD)
        if op == "sketch":
            toks = docs.select(
                "lang", F.explode(F.split(F.lower("clean_text"), r"\s+"))
                .alias("tok")).filter(F.col("tok") != "")
            return sketch.hll_grouped_distinct(toks, "lang", "tok", b=HLL_B)
        if op == "lm":
            ref = docs.filter(
                F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
            model = lm.fit_kn_bigram_lm(ref, buckets=LM_BUCKETS,
                                        id_col="url", text_col="clean_text")
            return lm.doc_log_ppl_kn(docs, *model, buckets=LM_BUCKETS,
                                     id_col="url", text_col="clean_text")
        return curation.curate_corpus(docs, id_col="url",
                                      text_col="clean_text", **CURATION)

    # the sink collects every operator's result, which consumes every
    # column
    got: dict[str, list] = {}
    times: dict[str, float] = {}
    for op in OPS:
        sc.setJobGroup(f"{op}.0", op, False)
        t = time.perf_counter()
        with tr.span(op):
            got[op] = build(op).collect()
        times[op] = time.perf_counter() - t
        spark.catalog.clearCache()

    tokens_by_lang: dict[str, set] = {}
    for r in ext_rows:
        tokens_by_lang.setdefault(r["lang"], set()).update(
            t for t in re.split(r"\s+", r["clean_text"].lower()) if t)
    sc.setJobGroup("check.candidates", "check", False)
    return {
        "op_times": times,
        "checks": {
            "dedup": checks.check_dedup(got["dedup"], dedup_text, degr,
                                        DEDUP_THRESHOLD),
            "sketch": checks.check_hll(got["sketch"], tokens_by_lang,
                                       HLL_B),
            "lm": checks.check_lm(got["lm"], text),
            "curation": checks.check_curation(got["curation"], text,
                                              **CURATION),
        },
        "dedup_pairs": len(got["dedup"]),
        "dedup_candidates": dedup.minhash_candidate_pairs(
            shingled, id_col="url", text_col="clean_text").count(),
    }


def pin(spark, cfg: dict, tr: tracing.Tracer, res: dict) -> None:
    """Digests of the extraction output, checked against the goldens."""
    rows = extract_rows(spark, cfg["corpus"], os.path.join(cfg["tmp"], "pin"))
    res["check"] = checks.check_extractions(rows, cfg["corpus"], None)
    res["digests"] = checks.digests(rows)


def scale(spark, cfg: dict, tr: tracing.Tracer, res: dict) -> None:
    """Pinned-width extraction leg for the scaling pair: one warm run and
    one timed run of the timed action, no check pass. The leg binds every
    thread of its process tree (JVM, Python daemon) to its first
    ``cores`` CPUs after the setup, so a 1-CPU leg does not pay a 1-CPU
    JVM start; Python workers forked later inherit the binding."""
    cpus = set(sorted(os.sched_getaffinity(0))[:cfg["cores"]])
    for pid in tree_pids():
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                os.sched_setaffinity(int(tid), cpus)
        except OSError:  # the process or thread has ended
            pass
    job = extraction_job(spark, cfg["corpus"], tr)
    job(0, group="warm")
    timed_loop(0, job, res)
    res["docs"] = pq.ParquetFile(os.path.join(
        cfg["corpus"], "pages.parquet")).metadata.num_rows


def setup_only(spark, cfg: dict, tr: tracing.Tracer, res: dict) -> None:
    """A set-up sample: the session build and warm-up action only."""


MODES = {"run": extraction, "setup": setup_only, "scale": scale,
         "pin": pin}


def main() -> None:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    tr = tracing.Tracer(cfg["run_id"]) if cfg["trace"] \
        else tracing.NullTracer(cfg["run_id"])
    res: dict = {}
    spark, res["setup"] = setup(cfg["cores"], tr)
    try:
        MODES[cfg["mode"]](spark, cfg, tr, res)
    finally:
        spark.stop()
    res["spans"] = tr.spans
    with open(cfg["result"], "w") as fh:
        json.dump(res, fh)


if __name__ == "__main__":
    main()
