"""Custom PySpark worker daemon: preload heavy modules before forking.

Python workers are forked from the daemon process per task slot. By
default each forked worker then imports numpy/pandas/pyarrow and this
package on first UDF deserialization — on virtualized kernels where page
faults are ~1000x slower than usual, that import chain costs seconds to
tens of seconds PER WORKER (observed: 41 s worker init for a cold worker).

Importing everything here, in the daemon, means every forked worker
inherits the already-imported modules (copy-on-write, code pages shared):
worker init drops to milliseconds. Enabled via
``spark.python.daemon.module=datasketches_rust_spark.daemon`` in
config.spark_session — a standard public Spark config.

Two more steps run in the daemon after the preloads and before it starts
forking. Each removes a fixed cost that every Python task paid, however
few rows it had (measured on a 4-core VM, Python 3.11.7, Spark 4.1.2):

1. **Re-read a zip only when it changed.** ``setup_spark_files`` in
   ``pyspark/worker_util.py`` calls ``importlib.invalidate_caches()`` at
   the start of every task. On Python 3.11 (and 3.12.1) that makes every
   ``zipimporter`` in ``sys.path_importer_cache`` re-parse its whole
   archive directory: a worker holds 16 of them, over ``pyspark.zip``
   (1,328 entries), the spark-core jar (5,359 entries) and the py4j zip,
   and the call cost 106–190 ms of CPU per task (0.1–0.2 ms with it). ``_invalidate_if_changed``
   replaces ``zipimporter.invalidate_caches`` and re-reads an archive only
   when its ``(st_mtime_ns, st_size)`` differs from the last read, so a
   rewritten or new archive (``sc.addPyFile``) is still picked up. The
   daemon invalidates once itself, so the forked workers inherit the
   stamps. Path finders that are not zips are untouched.
2. **Freeze the preloaded heap.** ``pyspark/daemon.py`` runs
   ``gc.collect()`` in the worker after each reused task, which walked the
   ~74k objects the daemon preloaded: 27–57 ms per task, and the walk
   also dirties the copy-on-write pages it touches. ``gc.freeze()``
   before the first fork moves them to the permanent generation, the
   pre-fork pattern the ``gc`` docs describe; the per-task collection
   then takes under 0.1 ms.

Together they took a no-op pandas UDF over 16 partitions (local[4],
warm) from 1.04–1.50 s to 0.34–0.43 s. Both run only when this module is
the daemon (``__main__``); importing it elsewhere leaves ``zipimport``
stock.
"""

import gc
import importlib
import os
import zipimport

import numpy                      # noqa: F401
import pandas                     # noqa: F401
import pyarrow                    # noqa: F401

import datasketches_rust_spark    # noqa: F401  (also applies mallopt tuning)
# the kernels the UDFs touch, so their module-level state is pre-faulted
from datasketches_rust_spark import agg, hashing            # noqa: F401
from datasketches_rust_spark.functions import text          # noqa: F401
from datasketches_rust_spark.sketches import (bloom, countmin,  # noqa: F401
                                              frequencies, hll, minhash,
                                              simhash, tdigest, theta)

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_zip_stamps: dict = {}


def _invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive's (mtime, size) matches the last read."""
    archive = importer.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None \
            and _zip_stamps.get(archive) == stamp:
        importer._files = cached  # another importer may have re-read it
        return
    # stamp taken before the read: a write racing the read leaves a stale
    # stamp, so the next call reads again rather than never
    _stock_invalidate(importer)
    _zip_stamps[archive] = stamp


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    importlib.invalidate_caches()   # stamp every archive once, pre-fork
    gc.freeze()
    manager()
