"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --pin

Run from the repository root. The workload's corpus is generated from the
seed by ``ocr_engine_spark.fixtures.gen_pages`` into the run's directory
under ``.bench_build/perfbench/runs``; the program only sees the generated
parquet.
Each leg is a fresh Python process with its own SparkSession at
``local[4]``, one job at a time (a closed loop with one client).

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``,
``--trace 1`` the per-layer metrics, from an extra leg launched with the
Spark event log on, plus spans recorded around the benchmark's calls into
the program. Every metric is printed as ``name value unit`` and the last
stdout line is the JSON result. ``--pin`` rewrites ``digests.json`` from
the program's output at each workload's default seed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
RUN_BUDGET_S = 170      # every leg of a run ends within this
SETUP_SAMPLES = 2       # fresh sessions whose set-up time an untraced run takes
CONTROL_RUNS = 3
# per-layer rows that only an extra leg of the traced run measures; on a
# workload without that leg they do not apply and read 0
EXTRA_ROWS = {
    "control": ("control.", "scale."),
    "corpus_ops": ("dedup.", "sketch.", "lm.", "curation."),
    "drill": ("catalog.", "resume.", "check.rework_frac",
              "check.lineage_match_frac"),
}


def load_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def make_corpus(path: str, seed: int, params: dict) -> str:
    """Generate a workload's corpus for ``seed`` into ``path``."""
    sys.path.insert(0, ROOT)
    from ocr_engine_spark.fixtures.gen_pages import write
    write(path, seed=seed, **params)
    return path


def leg_env(event_dir: str | None = None) -> dict:
    """Environment of a leg: the repo on the Python workers' path, Spark
    scratch inside the checkout, and the launch-only Spark settings."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["TMPDIR"] = tmp
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # build_session derives the shuffle width from the host's CPU count;
    # fix it to that of local[CORES] so every host runs the same plan
    env["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(2 * CORES)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + event_dir})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp}",
             "pyspark-shell"]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    return env


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # a zombie has ended; the leg itself stays one until reaped
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(d))
    return pids


def run_child(cmd: list[str], env: dict, deadline: float) -> str:
    """Run ``cmd`` in its own session and return its stdout; kill it at
    ``deadline`` (a ``time.monotonic`` value). Every process of the
    session (JVM, Python workers) has ended when this returns."""
    timeout = max(1.0, deadline - time.monotonic())
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        deadline = time.monotonic() + 20
        while True:
            left = _session_pids(proc.pid)
            if not left:
                break
            if out is None or time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            time.sleep(0.05)
        proc.wait()
    if out is None:
        raise RuntimeError(f"timed out after {timeout}s: {cmd[:3]}")
    if proc.returncode != 0:
        raise RuntimeError(f"exit {proc.returncode}: {cmd[:3]}")
    return out


def pinned(cmd: list[str], cores: int) -> list[str]:
    """``cmd`` bound to the first ``cores`` CPUs this process may use
    (an unpinned local[N] borrows idle cores for JVM threads)."""
    cpus = sorted(os.sched_getaffinity(0))[:cores]
    if len(cpus) < cores or not shutil.which("taskset"):
        return cmd
    return ["taskset", "-c", ",".join(map(str, cpus))] + cmd


def run_leg(cfg: dict, rundir: str, name: str, env: dict,
            deadline: float) -> dict:
    cfg = {**cfg, "result": os.path.join(rundir, f"{name}.result.json"),
           "tmp": os.path.join(rundir, f"{name}.tmp")}
    os.makedirs(cfg["tmp"], exist_ok=True)
    cfg_path = os.path.join(rundir, f"{name}.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    cmd = pinned([sys.executable, os.path.join(HERE, "leg.py"), cfg_path],
                 CORES)
    run_child(cmd, env, deadline)
    shutil.rmtree(cfg["tmp"], ignore_errors=True)
    return load_json(cfg["result"])


# ---------------------------------------------------------------------------
# control and scaling legs
# ---------------------------------------------------------------------------

def control_leg(corpus: str, procs: int, deadline: float) -> dict:
    """The framework-free multiprocessing control (MP_CHILD of
    tools/bench_scaling.py): the same kernels over the same parquet."""
    spec = importlib.util.spec_from_file_location(
        "bench_scaling", os.path.join(ROOT, "tools", "bench_scaling.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    cmd = pinned([sys.executable, "-c", mod.MP_CHILD.format(repo=ROOT),
                  str(procs), corpus, str(CONTROL_RUNS)], procs)
    out = run_child(cmd, leg_env(), deadline)
    return json.loads(out.strip().splitlines()[-1])


def control_and_scaling(cfg: dict, rundir: str, deadline: float) -> dict:
    """The 1-wide control and Spark legs, then the 4-wide control. The
    4-wide Spark leg is the untraced leg that follows, so each Spark leg
    runs right after its control and both see the same box."""
    res = {"control1": control_leg(cfg["corpus"], 1, deadline)}
    # launched on CORES CPUs: the leg binds itself to one after its setup
    leg = run_leg({**cfg, "mode": "scale", "cores": 1, "trace": 0},
                  rundir, "scale1", leg_env(), deadline)
    res["spark1"] = leg["docs"] / tracing.median(leg["job_times"])
    res[f"control{CORES}"] = control_leg(cfg["corpus"], CORES, deadline)
    return res


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(leg: dict, setups: list[dict]) -> dict:
    """End-to-end metrics of the untraced ``leg``; ``setup_s`` is the
    median over it and the set-up-only legs ``setups``."""
    setup_s = tracing.median(x["setup"]["setup_s"] for x in [leg] + setups)
    return {"setup_s": setup_s,
            "job_cpu_s": tracing.median(leg["job_cpu"]),
            "peak_rss_mb": tracing.median(leg["peak_rss"]) / 1e6}


def wall_metrics(leg: dict) -> dict:
    """Wall-clock figures of an untraced ``leg``: the median wall time of
    the timed action, docs per wall second, and the share of the CORES
    CPUs the action kept busy."""
    wall_s = tracing.median(leg["job_times"])
    return {"job.wall_s": wall_s, "job.docs_per_s": leg["docs"] / wall_s,
            "job.cpu_util": tracing.median(leg["job_cpu"]) / (wall_s * CORES)}


def _iter_groups(groups: dict, prefix: str) -> list[dict]:
    """Job groups ``<prefix>.<i>`` of the timed iterations, in order."""
    keys = [k for k in groups if k.startswith(prefix + ".")
            and k.rsplit(".", 1)[1].isdigit()]
    return [groups[k] for k in sorted(keys, key=lambda k: int(
        k.rsplit(".", 1)[1]))]


def drill_metrics(drill: dict, spans: list[dict], groups: dict) -> dict:
    """``catalog.*``, ``resume.*`` and the rework / lineage checks of the
    crash-and-resume drill."""
    def span_s(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    wb = span_s("catalog.write_batch")
    # scans of the pages table are the ones that read its payload column
    input_mb = tracing.files_read_mb(groups["drill"], "html:binary")
    return {
        "catalog.write_batch_s.p50": tracing.quantile(wb, 0.5),
        "catalog.write_batch_s.max": max(wb),
        "catalog.out_mb": drill["catalog"]["mb"],
        "catalog.files": drill["catalog"]["files"],
        "catalog.committed_batches_s": sum(span_s("catalog.committed_batches")),
        "resume.s": drill["resume"]["resume_s"],
        "resume.batches_run": len(drill["resume"]["ran"]),
        "resume.batches_skipped": len(drill["resume"]["skipped"]),
        "resume.scan_amplification": input_mb * 1e6 / drill["input_bytes"],
        "check.rework_frac": drill["check"]["rework_frac"],
        "check.lineage_match_frac": drill["check"]["lineage_match_frac"],
    }


def per_layer(traced: dict, events: list[dict], untraced: dict,
              control: dict | None) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the traced leg and its layer table, with
    ``untraced`` the same leg with tracing off and ``control`` the
    control and scaling legs, if the workload runs them."""
    m: dict[str, float] = {}
    groups = tracing.job_groups(events)
    job_s = tracing.median(traced["job_times"])
    m["session.build_s"] = traced["setup"]["build_s"]
    m["session.first_action_s"] = traced["setup"]["first_action_s"]

    iters = _iter_groups(groups, "job")
    m.update(tracing.median_of([tracing.stage_metrics(g) for g in iters]))
    check = traced["check"]
    m["check.correct_frac"] = check["correct_frac"]
    m["check.fields_match_frac"] = check["fields_match_frac"]
    m["check.failed_frac"] = check["failed_frac"]

    batch_rows = traced["setup"]["arrow_batch_rows"]
    m.update(tracing.median_of(
        [tracing.extraction_metrics(g, batch_rows) for g in iters]))
    k = traced["kernels"]
    m.update(k)
    nofields = tracing.median(traced["nofields_times"])
    m["fields.s"] = job_s - nofields
    m["fields.guard_pass_frac"] = traced["fields_guard_pass_frac"]
    kernel_s = sum(k[f"{n}.busy_s"]
                   for n in ("html_extract", "pdf_extract", "clean"))
    # task-seconds spread over the CORES slots, as wall seconds; the JVM
    # field columns run inside the Python-stage tasks, so their wall
    # difference comes out of that stage's remainder
    py_other = m.pop("pyworker.task_s") / CORES \
        - k["extract_batch.s"] / CORES - max(0.0, m["fields.s"])
    rows = [
        ("scan", m["scan.s"] / CORES),
        ("exchange", m["exchange.s"] / CORES),
        ("kernels", kernel_s / CORES),
        ("extract_batch.glue", (k["extract_batch.s"] - kernel_s) / CORES),
        ("fields", max(0.0, m["fields.s"])),
        ("pyworker+arrow", max(0.0, py_other)),
    ]
    if "ops" in traced:
        ops = traced["ops"]
        for op, s in ops["op_times"].items():
            m[f"{op}.s"] = s
            m[f"{op}.shuffle_mb"] = \
                tracing.stage_metrics(groups[f"{op}.0"])["stage.shuffle_mb"]
        m["dedup.candidates"] = ops["dedup_candidates"]
        m["dedup.verify_ratio"] = \
            ops["dedup_pairs"] / max(ops["dedup_candidates"], 1)
    if "drill" in traced:
        m.update(drill_metrics(traced["drill"], traced["spans"], groups))
    m.update(wall_metrics(untraced))
    untraced_s = m["job.wall_s"]
    m["trace.overhead_frac"] = job_s / untraced_s - 1.0
    if control is not None:
        spark4 = m["job.docs_per_s"]
        m["control.docs_per_s"] = control[f"control{CORES}"]["docs_per_sec"]
        m["control.spark_frac"] = spark4 / m["control.docs_per_s"]
        m["scale.eff_1_4"] = spark4 / (CORES * control["spark1"])
        m["scale.control_eff_1_4"] = \
            control[f"control{CORES}"]["docs_per_sec"] \
            / (CORES * control["control1"]["docs_per_sec"])
    table = tracing.layer_table(job_s, rows)
    m["unattributed.s"] = table[-1]["s"]
    m["unattributed.frac"] = table[-1]["share"]
    return m, table


def verdict(legs: list[dict]) -> tuple[bool, int, int]:
    """(correct, attempted, failed) over the checked outputs of ``legs``."""
    attempted = failed = 0
    for leg in legs:
        for c in (leg["check"], leg.get("drill", {}).get("check")):
            if c is not None:
                attempted += c["docs"] + c.get("batches", 0)
                failed += c["n_failed"]
        for op in leg.get("ops", {}).get("checks", {}).values():
            attempted += 1
            failed += not op["ok"]
    return failed == 0, attempted, failed


def emit(spec: dict, section: str, values: dict) -> dict:
    out = {}
    for m in spec[section]:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(values[m["name"]]),
                          "unit": m["unit"]}
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def run(args, spec: dict, workloads: dict) -> dict:
    wl = workloads[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    rundir = os.path.join(WORK, "runs", run_id)
    corpus = make_corpus(os.path.join(rundir, "corpus"), args.seed,
                         wl["corpus"])
    cfg = {"run_id": run_id, "workload": args.workload, "corpus": corpus,
           "seconds": args.seconds, "cores": CORES, "mode": "run",
           "extras": [],
           "pin_key": args.workload
           if args.seed == wl["default_seed"] else None}
    deadline = time.monotonic() + RUN_BUDGET_S
    try:
        if not args.trace:
            leg = run_leg({**cfg, "trace": 0}, rundir, "main", leg_env(),
                          deadline)
            setups = [run_leg({**cfg, "mode": "setup", "trace": 0}, rundir,
                              f"setup{i}", leg_env(), deadline)
                      for i in range(1, SETUP_SAMPLES)]
            legs = [leg]
            metrics = emit(spec, "end_to_end", end_to_end(leg, setups))
            # wall time spreads with the host's load, beyond any bound a
            # metric may have; it is printed here and is a per-layer row
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            for name, v in wall_metrics(leg).items():
                print(f"{name} {v:.6g} {units[name]} (not bounded)")
        else:
            # the traced run's legs measure for less time, so that all of
            # them fit the run's time budget on a busy host
            cfg["seconds"] = args.seconds / 4
            extras = wl.get("traced_extras", [])
            control = control_and_scaling(cfg, rundir, deadline) \
                if "control" in extras else None
            untraced = run_leg({**cfg, "trace": 0}, rundir, "untraced",
                               leg_env(), deadline)
            event_dir = os.path.join(rundir, "eventlog")
            traced = run_leg({**cfg, "trace": 1, "extras": extras},
                             rundir, "traced", leg_env(event_dir), deadline)
            events = tracing.read_event_log(event_dir)
            values, table = per_layer(traced, events, untraced, control)
            legs = [traced, untraced]
            skipped = tuple(p for x, ps in EXTRA_ROWS.items()
                            if x not in extras for p in ps)
            for m in spec["per_layer"]:
                if m["name"].startswith(skipped):
                    values[m["name"]] = 0.0
            metrics = emit(spec, "per_layer", values)
            with open(os.path.join(rundir, "layers.json"), "w") as fh:
                json.dump(table, fh, indent=1)
            print("layer table (seconds of the traced job's wall time):")
            for row in table:
                print(f"  {row['layer']:<28} {row['s']:9.4f} s "
                      f"{row['share']:7.1%}")
    finally:
        for d in ("corpus", "eventlog"):
            shutil.rmtree(os.path.join(rundir, d), ignore_errors=True)
    correct, attempted, failed = verdict(legs)
    for name, v in metrics.items():
        print(f"{name} {v['value']:.6g} {v['unit']}")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def pin(workloads: dict) -> None:
    """Rewrite digests.json from the program's output at default seeds."""
    import checks
    out = {}
    for name, wl in workloads.items():
        rundir = os.path.join(WORK, "runs", f"pin-{name}")
        shutil.rmtree(rundir, ignore_errors=True)
        corpus = make_corpus(os.path.join(rundir, "corpus"),
                             wl["default_seed"], wl["corpus"])
        res = run_leg({"run_id": f"pin-{name}", "workload": name,
                       "corpus": corpus, "cores": CORES, "mode": "pin",
                       "trace": 0}, rundir, "pin", leg_env(),
                      time.monotonic() + RUN_BUDGET_S)
        if res["check"]["n_failed"]:
            raise RuntimeError(f"{name}: output differs from the goldens")
        out[name] = res["digests"]
    with open(checks.DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pin", action="store_true")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ocr_engine_spark")):
        print("perfbench: run from the repository root (ocr_engine_spark/ "
              "not found)", file=sys.stderr)
        return 2
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if args.pin:
        pin(workloads)
        return 0
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    if args.workload not in workloads:
        p.error(f"--workload must be one of {sorted(workloads)}")
    if args.seed is None:
        args.seed = workloads[args.workload]["default_seed"]
    result = run(args, spec, workloads)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
