"""PySpark daemon for the engine's executor Python workers.

`session.get_spark` sets `spark.python.daemon.module` to this module, so
Spark starts `python -m h3_rs_spark.daemon` in place of `pyspark.daemon`.
It imports numpy, pyarrow, pandas, `pyspark.worker` and the engine's
worker-side modules once, applies two per-process fixes once, then runs
`pyspark.daemon.manager()`. Every worker is a fork of this process, so it
starts with those imports done and shares their pages copy-on-write;
imported per worker, they cost each one about 100 MB of private memory.

The engine's UDFs and tiling take and return Arrow data and import no
pandas, but pandas stays pre-imported here: pyarrow imports it lazily
on the first `pa.array` or `Array.to_numpy` of a worker, so a daemon
without it leaves every worker to import a private copy (ingest-tiles
`python_pss_mb` 473-474 MB without it, 378-387 MB with it, 4 vCPU).

Why the two fixes (measured in round 3): on Python 3.11 a reused
pyspark worker pays ~150-500 ms of python CPU for EVERY task before the
UDF even runs. cProfile of the worker loop attributes ~98% of that to
zipimport._read_directory: pyspark's worker_util.setup_spark_files()
calls importlib.invalidate_caches() once per task, and Python 3.11's
zipimporter.invalidate_caches() re-parses the ENTIRE zip central
directory unconditionally — pyspark.zip (~2.5k entries) plus every
--py-files zip on sys.path, every task. CPython 3.12 fixed this with
an mtime/size guard; 3.11 never got the backport. The daemon's
worker-reuse loop additionally runs a full gc.collect() after every
task (pyspark/daemon.py), ~14 ms with pandas+numpy+pyspark imported.

Both fixes are semantics-preserving and inherited by every fork:
- _patch_zipimport_invalidate backports the 3.12 guard: a zip whose
  (st_mtime_ns, st_size) changed is still fully re-read (so a
  re-shipped dist/h3_rs_spark.zip is picked up), an unchanged one is
  not re-parsed.
- gc.freeze() moves the import-time object graph (module dicts,
  functions — alive for the worker's lifetime anyway) into the
  permanent generation so the per-task gc.collect() only traverses
  objects allocated since.

At 16M rows / 648 tasks this was worth ~40% of total python CPU in
the flagship PIP pipeline (640-task encode job 13.3 s -> 1.6 s), and
proportionally more at higher task counts.
"""

from __future__ import annotations

import gc
import os
import zipimport

from pyspark import daemon

# with pyspark.daemon these pull in numpy, pyarrow, pyspark.worker and
# the h3core kernel
from .functions import udfs  # noqa: F401
from .operators import tiling  # noqa: F401

# nothing above needs pandas, but pyarrow imports it lazily inside every
# worker (pa.array, Array.to_numpy), so import it once here to share its
# pages; imported before pyspark.daemon it read ~35 MB more (415 MB)
import pandas  # noqa: E402, F401  isort: skip


def _patch_zipimport_invalidate() -> None:
    zi = zipimport.zipimporter
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


if __name__ == "__main__":
    _patch_zipimport_invalidate()
    gc.freeze()
    daemon.manager()
