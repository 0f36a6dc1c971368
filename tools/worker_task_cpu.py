"""Per-task CPU of the Python workers on a near-empty ``mapInArrow``.

    python tools/worker_task_cpu.py

Run from the repository root. Builds a session with ``build_session`` at
``local[4]``, warms the workers with one pass-through task per core, then
runs a ``mapInArrow`` over ``spark.range(1000)`` in 64 partitions into a
noop sink, five times. The measured body rebuilds each batch from a
Python list with ``pa.array``, as the extraction kernel builds its
output columns; pyarrow imports pandas on a worker's first such call, so
the measured tasks carry the heap an extraction worker carries. For each
run it reads the user+system CPU of every Python process under the JVM
(daemon, workers, reaped workers included) from /proc and divides by the
task count, so the number is the worker's fixed per-task cost: the UDF
body does almost nothing. Prints one JSON line with the per-run values
and their median.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.getcwd())

CORES = 4
PARTITIONS = 64
ROWS = 1000
REPEATS = 5


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            out.setdefault(ppid, []).append(int(d))
    return out


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python processes below this process's
    descendants (this driver process itself excluded)."""
    kids = _children()
    todo, total = list(kids.get(os.getpid(), [])), 0
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read()
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if comm.startswith("python"):
            total += sum(int(x) for x in f[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _passthrough(batches):
    yield from batches


def _from_list(batches):
    import pyarrow as pa
    for rb in batches:
        yield pa.RecordBatch.from_arrays(
            [pa.array(rb.column(0).to_pylist(), pa.int64())], names=["id"])


def main() -> None:
    from ocr_engine_spark.engine.session import build_session
    spark = build_session("worker-task-cpu", master=f"local[{CORES}]")
    spark.sparkContext.setLogLevel("ERROR")

    def run(body, rows: int, parts: int) -> None:
        (spark.range(0, rows, 1, parts).mapInArrow(body, "id long")
         .write.format("noop").mode("overwrite").save())

    run(_passthrough, CORES, CORES)
    per_task_ms = []
    for _ in range(REPEATS):
        cpu = python_worker_cpu_s()
        run(_from_list, ROWS, PARTITIONS)
        per_task_ms.append((python_worker_cpu_s() - cpu) * 1e3 / PARTITIONS)
    spark.stop()
    print(json.dumps({
        "partitions": PARTITIONS, "rows": ROWS, "cores": CORES,
        "per_task_ms": [round(x, 2) for x in per_task_ms],
        "median_per_task_ms": round(statistics.median(per_task_ms), 2)}))


if __name__ == "__main__":
    main()
