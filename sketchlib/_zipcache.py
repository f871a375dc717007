"""Stat-validated zip directory cache for Spark Python workers.

Before every task PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On Python < 3.12 that calls
``zipimport.zipimporter.invalidate_caches()`` on every zipimporter in
``sys.path_importer_cache``, and each one re-reads its archive's whole
central directory.  A warm worker holds one zipimporter per package
directory it imported from ``pyspark.zip`` plus ones over py4j and the
spark-core jar Spark puts on the worker ``PYTHONPATH``: 0.1-0.2 cpu-s per
task spent re-reading archives that did not change.

``install()`` wraps the method so that an importer re-reads only when its
archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken at
that importer's last re-read.  When ``os.stat`` fails it always re-reads,
so a changed, replaced or deleted archive is picked up exactly as before.
Python >= 3.12 re-populates the directory lazily, so there is nothing to do
there.  ``sketchlib/__init__.py`` calls ``install_in_worker()``, which acts
only inside a Spark Python worker process: workers are reused, so the
first sketchlib task of a worker installs it and every later task in that
worker benefits.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# set by Spark's PythonWorkerFactory in the environment of the daemon and
# of every Python worker; never in a driver process
_WORKER_ENV = "PYTHON_WORKER_FACTORY_SECRET"
_STAMP_ATTR = "_sketchlib_archive_stamp"


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _stat_validated(original):
    @functools.wraps(original)
    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        if stamp is None or getattr(self, _STAMP_ATTR, None) != stamp:
            # stamp taken before the re-read: an archive rewritten while
            # it is read gets a new stamp and is re-read on the next call
            original(self)
            setattr(self, _STAMP_ATTR, stamp)

    invalidate_caches._stat_validated = True
    return invalidate_caches


def installed() -> bool:
    """Whether ``zipimporter.invalidate_caches`` is the stat-validated one."""
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "_stat_validated", False)


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once (idempotent).  Returns
    whether the wrapper is in place; always ``False`` on Python >= 3.12."""
    if sys.version_info >= (3, 12):
        return False
    if not installed():
        zipimport.zipimporter.invalidate_caches = _stat_validated(
            zipimport.zipimporter.invalidate_caches)
    return True


def install_in_worker() -> bool:
    """``install()`` inside a Spark Python worker; a no-op elsewhere."""
    return _WORKER_ENV in os.environ and install()
