"""Per-process runtime fixes for PySpark executor python workers,
installed on first import of this package inside a worker (the package
import happens while the first task's UDF is unpickled).

Why this exists (measured in round 3): on Python
3.11 a REUSED pyspark worker pays ~150-500 ms of python CPU for EVERY
task before the UDF even runs. cProfile of the worker loop (custom
daemon module) attributes ~98% of that to zipimport._read_directory:
pyspark's worker_util.setup_spark_files() calls
importlib.invalidate_caches() once per task, and Python 3.11's
zipimporter.invalidate_caches() re-parses the ENTIRE zip central
directory unconditionally — pyspark.zip (~2.5k entries) plus every
--py-files zip on sys.path, every task. CPython 3.12 fixed this with
an mtime/size guard (python/cpython@gh-87319 follow-up); 3.11 never
got the backport. The daemon's worker-reuse loop additionally runs a
full gc.collect() after every task (pyspark/daemon.py), ~14 ms with
pandas+numpy+pyspark imported.

Both fixes are semantics-preserving and worker-local:
- _patch_zipimport_invalidate backports the 3.12 guard: a zip whose
  (st_mtime_ns, st_size) changed is still fully re-read (so a
  re-shipped dist/h3_rs_spark.zip is picked up), an unchanged one is
  not re-parsed.
- gc.freeze() moves the import-time object graph (module dicts,
  functions — alive for the worker's lifetime anyway) into the
  permanent generation so the per-task gc.collect() only traverses
  objects allocated since.

At 16M rows / 648 tasks this was worth ~40% of total python CPU in
the flagship PIP pipeline, and proportionally more at higher task
counts — per-task overhead is exactly the cost class that breaks
N->4N scaling efficiency, because 4N executors run the same work in
4x the task-waves per wall-second.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


def _in_worker() -> bool:
    """True inside an executor python worker (daemon fork or factory
    worker); False on the driver. The daemon exports SPARK_REUSE_WORKER
    to its children; factory-mode workers get the connect-back vars."""
    return bool(
        os.environ.get("SPARK_REUSE_WORKER")
        or os.environ.get("PYTHON_WORKER_FACTORY_PORT")
        or os.environ.get("PYTHON_WORKER_FACTORY_SOCK_PATH")
    )


def _patch_zipimport_invalidate() -> None:
    zi = zipimport.zipimporter
    if getattr(zi, "_h3rs_mtime_guard", False):
        return
    if sys.version_info >= (3, 12):
        return  # upstream already guards
    orig = zi.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            return orig(self)
        if getattr(self, "_h3rs_zip_key", None) != key:
            self._h3rs_zip_key = key
            orig(self)

    zi.invalidate_caches = invalidate_caches
    zi._h3rs_mtime_guard = True


def optimize_worker() -> None:
    """Idempotent; no-op on the driver."""
    if not _in_worker():
        return
    _patch_zipimport_invalidate()
    if not gc.get_freeze_count():
        gc.freeze()
