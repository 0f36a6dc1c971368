"""Scaling-efficiency evidence for the north rule (BASELINE.json:2,14):
throughput(4N) / (4 x throughput(N)) >= 0.8 between N and 4N executors.

No real cluster exists in this sandbox, so the sanctioned proxy is the
SAME extraction job on the SAME input at two parallelism levels, each in
a fresh JVM PINNED (taskset) to exactly that many physical cores —
un-pinned local[N] borrows idle cores for JVM/GC/Arrow threads and
overstates the N leg.

One N -> 4N pair is measured, N = max(1, CPUs // 4) over the CPUs this
process may run on (``os.sched_getaffinity``; 1 -> 4 on a 4-CPU box),
next to a framework-free CONTROL (the same kernels under
plain multiprocessing, no Spark) that shows how far the box itself
scales over the same pair.

Results -> stdout (JSON) + BENCH.md. Usage:
    python tools/bench_scaling.py [n_pages] [n_runs] [para_scale]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PRESERVE_MARKER = ("<!-- MANUAL SECTIONS BELOW — preserved verbatim by "
                   "bench_scaling.py -->")

SPARK_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from ocr_engine_spark.engine.extract_job import extract_pages, read_pages
from ocr_engine_spark.engine.session import build_session

cores, corpus, n_runs = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
spark = build_session("scaling-bench", master=f"local[{{cores}}]")
spark.sparkContext.setLogLevel("ERROR")
pages = read_pages(spark, corpus + "/pages.parquet")
n_docs = extract_pages(pages).count()   # warm-up pass
best = None
for _ in range(n_runs):
    t0 = time.perf_counter()
    extract_pages(pages).count()
    dt = time.perf_counter() - t0
    best = dt if best is None or dt < best else best
print(json.dumps({{"cores": cores, "docs": n_docs, "sec": round(best, 3),
                   "docs_per_sec": round(n_docs / best, 2)}}))
spark.stop()
"""

MP_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from multiprocessing import Pool

PATH = sys.argv[2] + "/pages.parquet"

def work(rgs):
    import pyarrow.parquet as pq
    from ocr_engine_spark.kernels.clean import clean_text
    from ocr_engine_spark.kernels.html_extract import extract_html
    from ocr_engine_spark.kernels.pdf_extract import extract_pdf
    pf = pq.ParquetFile(PATH)
    n = 0
    for rg in rgs:
        for p in pf.read_row_group(rg, columns=["html"]).column("html"):
            raw = p.as_py()
            res = extract_pdf(raw) if raw.startswith(b"%PDF") \
                else extract_html(raw)
            if res["text"]:
                clean_text(res["text"])
            n += 1
    return n

if __name__ == "__main__":
    import pyarrow.parquet as pq
    K, n_runs = int(sys.argv[1]), int(sys.argv[3])
    nrg = pq.ParquetFile(PATH).metadata.num_row_groups
    tasks = [[rg] for rg in range(nrg)]
    with Pool(K) as pool:
        pool.map(work, tasks[:K])      # warm imports
        best = tot = None
        for _ in range(n_runs):
            t0 = time.perf_counter()
            tot = sum(pool.map(work, tasks))
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
    print(json.dumps({{"cores": K, "docs": tot, "sec": round(best, 3),
                       "docs_per_sec": round(tot / best, 2)}}))
"""


def _run(child: str, cores: int, corpus: str, n_runs: int) -> dict:
    cmd = [sys.executable, "-c", child.format(repo=REPO),
           str(cores), corpus, str(n_runs)]
    if shutil.which("taskset"):  # the first `cores` CPUs we may run on
        cpus = sorted(os.sched_getaffinity(0))[:cores]
        cmd = ["taskset", "-c", ",".join(map(str, cpus))] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _eff(r_n: dict, r_4n: dict) -> float:
    return round(r_4n["docs_per_sec"] / (4 * r_n["docs_per_sec"]), 3)


def scaling_pair() -> tuple[int, int]:
    """``(N, 4N)`` for the CPUs this process may run on."""
    n = max(1, len(os.sched_getaffinity(0)) // 4)
    return n, 4 * n


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 32_000
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    para_scale = int(sys.argv[3]) if len(sys.argv) > 3 else 48

    sys.path.insert(0, REPO)
    from ocr_engine_spark.fixtures.gen_pages import write

    corpus = os.path.join(REPO, "fixtures_data",
                          f"bench_{n_pages}x{para_scale}")
    if not os.path.exists(os.path.join(corpus, "pages.parquet")):
        write(corpus, n_pages=n_pages, seed=42, para_scale=para_scale)

    # INTERLEAVE control and Spark legs per core count: host-steal waves
    # on this box last minutes, so running all Spark legs then all
    # control legs lets a wave hit one side only and the control gate
    # stops gating. Adjacent pairs see ~the same box.
    n, n4 = pair = scaling_pair()
    spark: dict = {}
    ctrl: dict = {}
    for c in pair:
        ctrl[c] = _run(MP_CHILD, c, corpus, n_runs)
        spark[c] = _run(SPARK_CHILD, c, corpus, n_runs)

    eff = _eff(spark[n], spark[n4])
    ctrl_eff = _eff(ctrl[n], ctrl[n4])
    norm = round(eff / ctrl_eff, 3) if ctrl_eff else None

    result = {
        "spark": spark, "control_multiprocessing": ctrl,
        "efficiency": eff, "control_efficiency": ctrl_eff,
        "normalized": norm, "target": 0.8, "pass": eff >= 0.8,
        "box_degraded": ctrl_eff < 0.85,
    }
    print(json.dumps(result, indent=2))

    rows = "\n".join(
        f"| local[{c}] | {spark[c]['docs']} | {spark[c]['sec']} | "
        f"{spark[c]['docs_per_sec']} |" for c in pair)
    crows = "\n".join(
        f"| {c} procs | {ctrl[c]['docs']} | {ctrl[c]['sec']} | "
        f"{ctrl[c]['docs_per_sec']} |" for c in pair)
    md = f"""# BENCH — extraction throughput + scaling efficiency

North rule (BASELINE.json): throughput(4N)/(4 x throughput(N)) >= 0.8
between N and 4N executors. Sandbox proxy (no real cluster): the same
`extract_pages` job on the same {spark[n]['docs']}-page synthetic corpus
(seed=42, mixed HTML/PDF at Common-Crawl weight ~32 KB/page) at N={n}
and 4N={n4} pinned cores (the CPUs available to the run), fresh JVM
each, best of {n_runs} timed runs after a warm-up pass. Pinning
(taskset to exactly N cores) matters: un-pinned local[N] borrows idle
physical cores for JVM/GC/Arrow threads and overstates the small leg.

## Spark job

| parallelism | docs | wall sec | docs/sec |
|---|---|---|---|
{rows}

**Scaling efficiency N={n} -> 4N={n4}: {eff}** (target >= 0.8:
{"PASS" if eff >= 0.8 else "FAIL"})

## Control: same kernels, no Spark (multiprocessing + pyarrow)

| parallelism | docs | wall sec | docs/sec |
|---|---|---|---|
{crows}

Control efficiency {n} -> {n4}: {ctrl_eff} (machine ceiling for the
pair; Spark normalized by it: **{norm}**). A control below ~0.85 means
the BOX was steal-degraded during the run, or the corpus has fewer
parquet row groups than {n4} (the control makes one task per row
group) — rerun on a quiet box rather than reading the Spark number as a
plan property.

Why the plan scales: one planner (`extract_job._plan_scan`) picks the
plan from the input's file metadata, in one of two shapes. When the scan
yields >= 4 splits per slot, or a small parquet corpus can be cut along
its row groups into whole waves: scan -> ONE mapInArrow kernel stage ->
sink. When the scan under-parallelizes: scan ->
`repartition(P, xxhash64(url))`, P = 1-4 full waves of `cores` tasks
sized by input bytes -> the kernel stage -> sink. The 4,600-page corpus
(`python tools/bench_scaling.py 4000`, 9 row groups) keeps its 16-task
Exchange at local[4] (6 scan splits at the 16 MB floor) and runs a
5-split scan with no Exchange at local[1]. Kernel work is
embarrassingly parallel; full waves of up to 4 tasks/slot amortize the
~10x per-doc cost variance (PDF layout vs HTML) so the last wave has no
stragglers; nothing is driver-bound or single-partition.

Reproduce: `python tools/bench_scaling.py`.

{PRESERVE_MARKER}
"""
    # everything below the marker (per-round suite analyses, Iceberg
    # notes, regression tables) is curated by hand — splice it back
    # instead of clobbering it
    bench_path = os.path.join(REPO, "BENCH.md")
    preserved = ""
    if os.path.exists(bench_path):
        old = open(bench_path).read()
        if PRESERVE_MARKER in old:
            # one blank line after the marker, however many it has now
            preserved = "\n" + old.split(PRESERVE_MARKER, 1)[1].lstrip("\n")
    with open(bench_path, "w") as f:
        f.write(md + preserved)
    print("wrote BENCH.md (preserved manual sections)")


if __name__ == "__main__":
    main()
