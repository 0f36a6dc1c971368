"""The Python worker daemon (engine/worker_daemon.py): the zip re-read
guard, the heap freeze on reused workers, and the worker environment
``build_session`` sets up."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("wd_zip_pkg/__init__.py", "")
        for name in modules:
            zf.writestr(f"wd_zip_pkg/{name}.py", f"VALUE = {name!r}\n")


def _run_driver(tmp_path, body: str) -> str:
    """Run ``body`` as a driver script started in ``tmp_path`` with no
    PYTHONPATH (``build_session`` imported); return its stdout."""
    script = tmp_path / "job.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from ocr_engine_spark.engine.session import build_session\n"
        + body)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def test_zip_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    from ocr_engine_spark.engine import worker_daemon

    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["a"])
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # restored after the test, guard included
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    for mod in ("wd_zip_pkg", "wd_zip_pkg.a", "wd_zip_pkg.b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    monkeypatch.syspath_prepend(archive)
    try:
        # two importers of one archive: the path entry and the package
        assert importlib.import_module("wd_zip_pkg.a").VALUE == "a"
        pkg_path = os.path.join(archive, "wd_zip_pkg")
        assert isinstance(sys.path_importer_cache[pkg_path],
                          zipimport.zipimporter)

        # unguarded, every invalidation re-reads once per importer
        del reads[:]
        importlib.invalidate_caches()
        assert len(reads) == 2

        worker_daemon.guard_zip_rereads()
        worker_daemon.guard_zip_rereads()  # idempotent
        del reads[:]
        importlib.invalidate_caches()  # records each importer's read
        assert len(reads) == 2
        for _ in range(3):
            importlib.invalidate_caches()
        assert len(reads) == 2

        # rewritten in place under the same path: re-read, and the new
        # module imports through the package's importer
        _write_zip(archive, ["a", "b"])
        importlib.invalidate_caches()
        assert len(reads) == 4
        assert importlib.import_module("wd_zip_pkg.b").VALUE == "b"
        importlib.invalidate_caches()
        assert len(reads) == 4
    finally:
        for path in (archive, os.path.join(archive, "wd_zip_pkg")):
            sys.path_importer_cache.pop(path, None)


def test_workers_run_guarded_and_frozen(spark):
    """From inside the workers of a 16-task job: the guard is installed,
    and a reused worker has frozen its import heap."""
    def probe(batches):
        import gc
        import zipimport

        import pyarrow as pa
        for _ in batches:
            pass
        guarded = getattr(zipimport.zipimporter.invalidate_caches,
                          "guarded", False)
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "guarded": [guarded],
            "frozen": [gc.get_freeze_count()]})

    rows = (spark.range(0, 160, 1, 16)
            .mapInArrow(probe, "pid long, guarded boolean, frozen long")
            .collect())
    assert len(rows) == 16
    assert all(r.guarded for r in rows)
    # 16 tasks on fewer workers: some worker ran a task after its first
    assert len({r.pid for r in rows}) < 16
    assert any(r.frozen > 0 for r in rows)


def test_worker_imports_no_pandas():
    """The extraction worker's import chain (pyspark's worker, the job
    module, its kernels and the daemon) does not load pandas. Workers
    still load it: pyarrow imports pandas on a worker's first
    ``pa.array`` call over a Python list, which every extraction task
    makes."""
    code = (
        "import sys, pyspark.worker, ocr_engine_spark.engine.extract_job, "
        "ocr_engine_spark.engine.worker_daemon, "
        "ocr_engine_spark.kernels.html_extract, "
        "ocr_engine_spark.kernels.pdf_extract\n"
        "print('pandas' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    assert out.stdout.strip() == "False"


def test_workers_refreeze_after_late_imports(tmp_path):
    """A reused worker whose later task imports modules (here pandas,
    which pyarrow loads on the first ``pa.array`` over a Python list)
    freezes its heap again, so the collection after each task walks
    only what tasks allocate."""
    out = _run_driver(
        tmp_path,
        "def passthrough(batches):\n"
        "    yield from batches\n"
        "def from_list(batches):\n"
        "    import pyarrow as pa\n"
        "    for b in batches:\n"
        "        yield pa.RecordBatch.from_arrays(\n"
        "            [pa.array(b.column(0).to_pylist(), pa.int64())],\n"
        "            names=['id'])\n"
        "def probe(batches):\n"
        "    import gc, os\n"
        "    import pyarrow as pa\n"
        "    for _ in batches:\n"
        "        pass\n"
        "    yield pa.RecordBatch.from_pydict({\n"
        "        'pid': [os.getpid()], 'frozen': [gc.get_freeze_count()],\n"
        "        'unfrozen': [len(gc.get_objects())]})\n"
        "spark = build_session('refreeze-test', master='local[4]')\n"
        "def run(fn, schema):\n"
        "    return spark.range(0, 160, 1, 16).mapInArrow(fn, schema)"
        ".collect()\n"
        "spark.range(0, 4, 1, 4).mapInArrow(passthrough, 'id long')"
        ".collect()\n"
        "run(from_list, 'id long')\n"
        "for r in run(probe, 'pid long, frozen long, unfrozen long'):\n"
        "    print(r.pid, r.frozen, r.unfrozen)\n"
        "spark.stop()\n")
    rows = [tuple(map(int, line.split())) for line in out.splitlines()]
    assert len(rows) == 16
    reused = [unfrozen for _, frozen, unfrozen in rows if frozen]
    assert reused
    # a first-task-only freeze left ~32k objects (pandas) unfrozen here
    assert max(reused) < 1000, rows


def test_worker_conf_only_on_local_masters():
    """The daemon and the driver-side PYTHONPATH need workers on the
    driver's host; cluster masters keep the stock daemon."""
    from ocr_engine_spark.engine.session import PACKAGE_PARENT, worker_conf

    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        conf = worker_conf(master)
        assert conf["spark.python.daemon.module"] == \
            "ocr_engine_spark.engine.worker_daemon"
        assert conf["spark.executorEnv.PYTHONPATH"] == PACKAGE_PARENT
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert worker_conf(master) == {}


def test_workers_import_package_from_any_cwd(tmp_path):
    """A driver started outside the repository, with no PYTHONPATH, runs
    a Python stage whose workers import this package."""
    out = _run_driver(
        tmp_path,
        "def kernel(batches):\n"
        "    from ocr_engine_spark.kernels.clean import clean_text\n"
        "    import pyarrow as pa\n"
        "    for b in batches:\n"
        "        yield pa.RecordBatch.from_pydict(\n"
        "            {'t': [clean_text('a  b')] * b.num_rows})\n"
        "spark = build_session('cwd-test', master='local[1]')\n"
        "rows = spark.range(0, 4, 1, 2).mapInArrow(kernel, 't string')"
        ".collect()\n"
        "print(sorted(r.t for r in rows))\n"
        "spark.stop()\n")
    assert out.strip().splitlines()[-1] == str(["a b"] * 4)
