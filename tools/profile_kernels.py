"""Profile the extraction kernels single-threaded on the heavy bench corpus.

Dev tool: finds where per-doc CPU goes (HTML parse vs classify vs clean vs
PDF layout) so kernel micro-optimizations target real hot spots instead of
guesses. No Spark — reads the parquet with pyarrow and loops.

Usage: python tools/profile_kernels.py [n_docs] [--cprofile]
(the corpus is the one ``python tools/bench_scaling.py 4000`` generates).
Without ``--cprofile`` it prints docs/s, then each kernel's mean ms per
call (html, pdf, clean).
"""
from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time
from collections import Counter

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from ocr_engine_spark.kernels import clean, html_extract, pdf_extract  # noqa: E402
from ocr_engine_spark.kernels.document import extract_document  # noqa: E402

CORPUS = os.path.join(REPO, "fixtures_data", "bench_4000x48", "pages.parquet")


def run(rows):
    kinds = Counter(extract_document(payload)[0] for payload in rows)
    return kinds["html"], kinds["pdf"]


def time_kernels() -> dict[str, list]:
    """Wrap each kernel on its module, where ``extract_document`` looks
    it up; returns name -> [busy seconds, calls], filled as they run."""
    busy = {}
    for name, mod, attr in (("html", html_extract, "extract_html"),
                            ("pdf", pdf_extract, "extract_pdf"),
                            ("clean", clean, "clean_text")):
        acc = busy[name] = [0.0, 0]

        def wrapper(x, fn=getattr(mod, attr), acc=acc):
            t = time.perf_counter()
            out = fn(x)
            acc[0] += time.perf_counter() - t
            acc[1] += 1
            return out
        setattr(mod, attr, wrapper)
    return busy


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 1000
    tbl = pq.read_table(CORPUS, columns=["html"])
    rows = tbl.column("html").to_pylist()[:n]
    total_bytes = sum(len(r) for r in rows)
    if "--cprofile" in sys.argv:
        prof = cProfile.Profile()
        prof.enable()
        n_html, n_pdf = run(rows)
        prof.disable()
        stats = pstats.Stats(prof)
        stats.sort_stats("cumulative").print_stats(25)
    else:
        busy = time_kernels()
        t0 = time.perf_counter()
        n_html, n_pdf = run(rows)
        dt = time.perf_counter() - t0
        print(f"{len(rows)} docs ({n_html} html, {n_pdf} pdf), "
              f"{total_bytes/1e6:.1f} MB in {dt:.3f}s = "
              f"{len(rows)/dt:.1f} docs/s single-thread")
        print(", ".join(f"{name} {sec * 1e3 / max(calls, 1):.3f} ms/doc"
                        for name, (sec, calls) in busy.items()))


if __name__ == "__main__":
    main()
