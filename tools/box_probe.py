"""Quick box-health probe: the bench_scaling multiprocessing control at
its N vs 4N pinned procs (``scaling_pair``: the CPUs this process may
run on, 1 vs 4 on a 4-CPU box) on the small bench corpus. Control
efficiency >= ~0.8 -> box quiet enough for a full pinned scaling run;
below -> host neighbor steal is active and a scaling attempt would be
wasted.

Usage: python tools/box_probe.py [n_pages]
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools.bench_scaling import (  # noqa: E402
    MP_CHILD, REPO, _eff, _run, scaling_pair,
)


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    from ocr_engine_spark.fixtures.gen_pages import write
    corpus = os.path.join(REPO, "fixtures_data", f"bench_{n_pages}x48")
    if not os.path.exists(os.path.join(corpus, "pages.parquet")):
        write(corpus, n_pages=n_pages, seed=42, para_scale=48)
    n, n4 = pair = scaling_pair()
    ctrl = {c: _run(MP_CHILD, c, corpus, 2) for c in pair}
    eff = _eff(ctrl[n], ctrl[n4])
    print(json.dumps({"control": ctrl, f"ctrl_eff_{n}_{n4}": eff,
                      "quiet": eff >= 0.78}))


if __name__ == "__main__":
    main()
