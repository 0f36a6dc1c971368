"""Scaling-efficiency evidence for the north rule (BASELINE.json:2,14):
throughput(4N) / (4 x throughput(N)) >= 0.8 between N and 4N executors.

No real cluster exists in this sandbox, so the sanctioned proxy is the
SAME extraction job on the SAME input at two parallelism levels, each in
a fresh JVM PINNED (taskset) to exactly that many physical cores —
un-pinned local[N] borrows idle cores for JVM/GC/Arrow threads and
overstates the N leg.

Two N/4N pairs are reported plus a framework-free CONTROL:

  * 2 -> 8 cores: below the VM's memory-bandwidth saturation point —
    measures the JOB's scaling behavior.
  * 8 -> 32 cores: crosses the single-box bandwidth wall. The control
    (the same kernels under plain multiprocessing, no Spark) shows the
    box itself caps at ~0.67 here, so the meaningful number for this
    pair is job-efficiency / control-efficiency. On a real cluster each
    executor node brings its own memory bus, so the wall is a sandbox
    artifact, not a property of the plan (the plan's only cross-task
    structure is one hash shuffle that binpacks by url).

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
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _eff(r_n: dict, r_4n: dict) -> float:
    return round(r_4n["docs_per_sec"] / (4 * r_n["docs_per_sec"]), 3)


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
    # stops gating (observed: control 2->8 clean while the adjacent-in-
    # time Spark 32 leg sat in a wave). Adjacent pairs see ~the same box.
    spark: dict = {}
    ctrl: dict = {}
    for c in (2, 8, 32):
        ctrl[c] = _run(MP_CHILD, c, corpus, n_runs)
        spark[c] = _run(SPARK_CHILD, c, corpus, n_runs)

    eff_2_8 = _eff(spark[2], spark[8])
    eff_8_32 = _eff(spark[8], spark[32])
    ctrl_2_8 = _eff(ctrl[2], ctrl[8])
    ctrl_8_32 = _eff(ctrl[8], ctrl[32])
    norm_2_8 = round(eff_2_8 / ctrl_2_8, 3) if ctrl_2_8 else None
    normalized = round(eff_8_32 / ctrl_8_32, 3) if ctrl_8_32 else None

    result = {
        "spark": spark, "control_multiprocessing": ctrl,
        "efficiency_2_to_8": eff_2_8,
        "efficiency_8_to_32": eff_8_32,
        "control_efficiency_2_to_8": ctrl_2_8,
        "control_efficiency_8_to_32": ctrl_8_32,
        "normalized_2_to_8": norm_2_8,
        "normalized_8_to_32": normalized,
        "target": 0.8,
        "pass": eff_2_8 >= 0.8,
        "box_degraded": ctrl_2_8 is not None and ctrl_2_8 < 0.85,
    }
    print(json.dumps(result, indent=2))

    rows = "\n".join(
        f"| local[{c}] | {spark[c]['docs']} | {spark[c]['sec']} | "
        f"{spark[c]['docs_per_sec']} |" for c in (2, 8, 32))
    crows = "\n".join(
        f"| {c} procs | {ctrl[c]['docs']} | {ctrl[c]['sec']} | "
        f"{ctrl[c]['docs_per_sec']} |" for c in (2, 8, 32))
    md = f"""# BENCH — extraction throughput + scaling efficiency

North rule (BASELINE.json): throughput(4N)/(4 x throughput(N)) >= 0.8
between N and 4N executors. Sandbox proxy (no real cluster): the same
`extract_pages` job on the same {spark[8]['docs']}-page synthetic corpus
(seed=42, mixed HTML/PDF at Common-Crawl weight ~32 KB/page) at three
pinned parallelism levels, fresh JVM each, best of {n_runs} timed runs
after a warm-up pass. Pinning (taskset to exactly N cores) matters:
un-pinned local[N] borrows idle physical cores for JVM/GC/Arrow threads
and overstates the small leg.

## Spark job

| parallelism | docs | wall sec | docs/sec |
|---|---|---|---|
{rows}

**Scaling efficiency N=2 -> 4N=8: {eff_2_8}** (target >= 0.8:
{"PASS" if eff_2_8 >= 0.8 else "FAIL"})

Scaling efficiency N=8 -> 4N=32: {eff_8_32}

## Control: same kernels, no Spark (multiprocessing + pyarrow)

| parallelism | docs | wall sec | docs/sec |
|---|---|---|---|
{crows}

Control efficiency 2 -> 8: {ctrl_2_8} (machine ceiling for the gated
pair; Spark 2->8 normalized by it: **{norm_2_8}**). A control below
~0.85 here means the BOX was steal-degraded during the run — rerun on
a quiet box rather than reading the Spark number as a plan property.

Control efficiency 8 -> 32: {ctrl_8_32} — the box ITSELF stops scaling
past ~8-16 cores for this memory-heavy workload (single shared memory
bus + virtualization jitter); even framework-free perfect parallelism
caps there. Normalizing the Spark 8->32 number by the machine ceiling
gives **{normalized}**; past the bandwidth wall Spark additionally pays
JVM+Python-worker oversubscription that the bare multiprocessing
control does not, so this pair understates the plan. On a real N- vs
4N-EXECUTOR cluster each node brings its own memory bandwidth and its
own Python workers, so the 2->8 (pre-saturation) pair is the faithful
proxy for the north rule.

Why the plan scales: scan -> `repartition(P, xxhash64(url))`, P = 1-4
full waves of `cores` tasks sized by input bytes (only when the scan
itself under-parallelizes) -> ONE mapInArrow kernel stage -> sink. The
only shuffle is the explicit load-balancing repartition (measured < 1 s
of the total); kernel work is embarrassingly parallel; full waves of up
to 4 tasks/slot amortize the ~10x per-doc cost variance (PDF layout vs
HTML) so the last wave has no stragglers; nothing is driver-bound or
single-partition.

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
            preserved = old.split(PRESERVE_MARKER, 1)[1]
    with open(bench_path, "w") as f:
        f.write(md + preserved)
    print("wrote BENCH.md (preserved manual sections)")


if __name__ == "__main__":
    main()
