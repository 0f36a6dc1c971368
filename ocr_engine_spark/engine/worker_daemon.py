"""Python worker daemon: ``pyspark.daemon`` minus two fixed per-task costs.

``build_session`` points ``spark.python.daemon.module`` here, so every
Python stage (``mapInArrow``, pandas UDFs, RDD lambdas) runs in workers
forked by this module. It changes nothing a task computes; it removes
work a reused worker repeats before and after every task:

* ``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
  at the start of each task. On CPython 3.11 that makes every
  ``zipimporter`` on the path re-read its archive's central directory —
  ~16 importers over ``pyspark.zip`` prefixes, the spark-core jar and
  py4j, most of the 200-290 ms of CPU a pass-through task cost. The guard
  below re-reads an archive only when its ``(st_ino, st_mtime_ns,
  st_size)`` changed since that importer last read it. A newly shipped
  ``--py-files`` archive is a new path, so it still gets a fresh
  importer.
* After each reused task the daemon runs a full garbage collection,
  which walks the whole import heap (pyspark, pyarrow, the kernels).
  Freezing that heap leaves the per-task collection only the objects
  tasks allocate. A worker freezes after its first task and again after
  any task that grew ``sys.modules``: a first-task-only freeze misses
  what loads late. pyarrow 16 imports pandas on the first ``pa.array``
  call over a Python list, which in an extraction worker happens inside
  the first extraction task, not the first task; without the re-freeze
  each reused worker kept ~32k unfrozen objects, and walking them took
  ~11 ms of the ~20 ms of worker CPU a near-empty task cost
  (``tools/worker_task_cpu.py``). (A frozen object that later becomes cyclic
  garbage is never reclaimed; what is frozen is almost all module
  state, which lives as long as the worker anyway.)

The daemon module must be importable where Python workers start, so
``build_session`` uses it only on local masters, where it also puts this
package's parent on the workers' ``PYTHONPATH`` (``session.worker_conf``).
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_mtime_ns, st.st_size


def guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip the re-read of an
    archive that has not changed since this importer last read it.
    Idempotent. An importer without a recorded read (created before the
    guard, or never invalidated) reads once."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "guarded", False):
        return

    def invalidate_caches(self):
        key = _archive_key(self.archive)
        if key is not None and getattr(self, "_read_key", None) == key:
            return
        reread(self)
        self._read_key = key

    invalidate_caches.guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    from pyspark import daemon

    guard_zip_rereads()
    # one read per importer here, inherited by every forked worker,
    # instead of one in every worker before every task
    importlib.invalidate_caches()
    run_task = daemon.worker

    def worker(sock, authenticated):
        modules = len(sys.modules)
        code = run_task(sock, authenticated)
        if not gc.get_freeze_count() or len(sys.modules) > modules:
            # the heap now holds what the worker imported; collect its
            # garbage once, then freeze the rest
            gc.collect(2)
            gc.freeze()
        return code

    daemon.worker = worker
    daemon.manager()


if __name__ == "__main__":
    main()
