"""The stat-validated zip directory cache (``sketchlib._zipcache``).

Driver-side tests call ``install()`` directly and restore the stock
``zipimporter.invalidate_caches`` afterwards; the Spark tests check the
worker side: the cache is installed by a worker's first sketchlib task,
stays installed in that reused worker, and a zip shipped with
``addPyFile`` is still importable in a task.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from sketchlib import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python >= 3.12 re-reads zip directories lazily; nothing to cache")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def stock_zipimporter(monkeypatch):
    """Restore the stock method (and ``sys.path``) at teardown."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(sys, "path", list(sys.path))
    return zipimport.zipimporter.invalidate_caches


@pytest.fixture
def reads(monkeypatch):
    """Archive paths whose central directory was read, in order."""
    seen = []
    original = zipimport._read_directory

    def spy(archive):
        seen.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return seen


@pytest.fixture
def archive(tmp_path, stock_zipimporter):
    """A zip on ``sys.path`` with one imported module, its zipimporter in
    ``sys.path_importer_cache``."""
    path = str(tmp_path / "zipcache_pkg.zip")
    _write_zip(path, {"zipcache_mod_a": 1})
    sys.path.insert(0, path)
    mod = importlib.import_module("zipcache_mod_a")
    assert mod.VALUE == 1
    yield path
    for name in ("zipcache_mod_a", "zipcache_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, reads):
    assert _zipcache.install()
    importlib.invalidate_caches()  # first call re-reads and stamps
    assert reads.count(archive) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_rewritten_archive_exposes_new_member(archive, reads):
    assert _zipcache.install()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zipcache_mod_b")
    _write_zip(archive, {"zipcache_mod_a": 1, "zipcache_mod_b": 2})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zipcache_mod_b").VALUE == 2


def test_deleted_archive_falls_back_to_stock(archive, reads):
    assert _zipcache.install()
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # must not raise
    importlib.invalidate_caches()  # stat keeps failing: re-read each time
    assert reads.count(archive) == 3
    importer = sys.path_importer_cache[archive]
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_install_twice_wraps_once(stock_zipimporter):
    assert not _zipcache.installed()
    assert _zipcache.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.__wrapped__ is stock_zipimporter
    assert _zipcache.installed()


@pytest.mark.parametrize("worker", [False, True])
def test_plain_import_patches_only_worker_processes(worker):
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "x"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in [env.get("PYTHONPATH")] if p])
    out = subprocess.run(
        [sys.executable, "-c",
         "import sketchlib, sketchlib._zipcache as z; print(z.installed())"],
        env=env, capture_output=True, text=True, check=True, timeout=120)
    assert out.stdout.strip() == str(worker)


def _same_worker_rows(spark, fn, pid, schema, tries=32):
    """Run ``fn`` as single-task jobs until one lands in the Python worker
    ``pid`` (idle workers are reused first-in first-out) and return its
    row."""
    df = spark.range(0, 1, numPartitions=1)
    for _ in range(tries):
        row = df.mapInArrow(fn, schema).collect()[0]
        if row.pid == pid:
            return row
    pytest.fail(f"no task ran in worker {pid} within {tries} jobs")


def _first_sketchlib_task(spark):
    import pyarrow as pa

    def first(batches):
        import os
        from sketchlib.hll import HllSketch

        n = sum(b.num_rows for b in batches)
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "n": [HllSketch(p=10).count() + n]})

    row = (spark.range(0, 1, numPartitions=1)
           .mapInArrow(first, "pid long, n long").collect()[0])
    return row.pid


def test_reused_worker_keeps_cache_after_first_sketchlib_task(spark):
    import pyarrow as pa

    pid = _first_sketchlib_task(spark)

    def report(batches):
        import os
        import zipimport

        for _ in batches:
            pass
        wrapped = getattr(zipimport.zipimporter.invalidate_caches,
                          "_stat_validated", False)
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "patched": [bool(wrapped)]})

    row = _same_worker_rows(spark, report, pid, "pid long, patched boolean")
    assert row.patched


def test_add_py_file_zip_importable_in_patched_worker(spark, tmp_path):
    import pyarrow as pa

    pid = _first_sketchlib_task(spark)
    path = str(tmp_path / "zipcache_shipped.zip")
    _write_zip(path, {"zipcache_shipped_mod": 41})
    spark.sparkContext.addPyFile(path)

    def use_shipped(batches):
        import os
        import zipimport

        import zipcache_shipped_mod

        for _ in batches:
            pass
        wrapped = getattr(zipimport.zipimporter.invalidate_caches,
                          "_stat_validated", False)
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "patched": [bool(wrapped)],
             "value": [zipcache_shipped_mod.VALUE + 1]})

    row = _same_worker_rows(spark, use_shipped, pid,
                            "pid long, patched boolean, value long")
    assert row.patched
    assert row.value == 42
