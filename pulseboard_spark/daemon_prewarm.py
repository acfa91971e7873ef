"""pyspark.daemon with the heavy worker libraries pre-imported (guide §4.5).

``pyspark.daemon`` forks one worker process per task; each forked worker
inherits the daemon's already-imported modules for free via fork
copy-on-write.  The stock daemon imports only pyspark itself, so every NEW
worker pays the numpy/pandas/pyarrow import chain (~1-2 s of CPU) on its
first Arrow batch — and a wide Python stage that meets a cold or drained
worker pool pays it up to ``defaultParallelism`` times CONCURRENTLY.
Measured on the bench (32 cores, sf0.1): the first ``mapInPandas`` pass
after a long JVM-only stretch cost 5-12 s of wall with ~0.3 s of executor
CPU — all worker spawn + imports (see OPTIMIZATION_r10.md "worker pool").

Importing the libraries HERE, once per daemon, turns each worker fork into
~10 ms.  Pure preload: after the imports, control enters the stock
``pyspark.daemon`` main loop unchanged.  None of the imported libraries
spawns threads at import time (BLAS/arrow thread pools are lazy), so the
subsequent forks are safe.

Wiring (local/bench sessions — :func:`pulseboard_spark.session.get_spark`):
``spark.python.daemon.module=pulseboard_spark.daemon_prewarm`` plus the
repo root on ``PYTHONPATH`` so the executor-spawned daemon can import this
module.  On a cluster the equivalent is ``--conf spark.python.daemon.module
=... --conf spark.executorEnv.PYTHONPATH=...`` with the package shipped via
``--py-files``.  Foreign sessions (the correctness driver's) keep the stock
daemon — behavior is identical either way.

Per-task cost: every Python task runs ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  On Python 3.11 that makes
each ``zipimporter`` re-read its archive's whole central directory.  A
worker holds 17 of them: 12 into ``pyspark.zip`` (1,328 entries) and 2
into the 14 MB ``spark-core`` jar (5,359 entries) — 208-274 ms per task,
every task, before any row is read (measured in a ``get_spark`` worker on
a 4-core host).  The daemon therefore installs
:func:`invalidate_if_changed` before the fork, with this stamp rule: an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp recorded when that
importer last read it (importers that already exist are stamped at
install).  A rewritten zip is still re-read, and a newly added path
still gets a new importer, so the invalidation contract holds.
"""

import os
import sys
import zipimport

_STOCK_ZIP_INVALIDATE = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since this importer last read
    it (a missing archive is always handed to the stock method)."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and getattr(self, "_pb_stamp", None) == stamp:
        return
    _STOCK_ZIP_INVALIDATE(self)
    self._pb_stamp = stamp


def install_zip_stamps() -> None:
    """Install :func:`invalidate_if_changed` and stamp every zipimporter
    that already exists (their directories were read at construction)."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._pb_stamp = _archive_stamp(finder.archive)


if __name__ == "__main__":
    # Everything — preload AND gc.freeze — runs only under the __main__
    # guard (r10 advisory): Spark launches the daemon as
    # ``python -m pulseboard_spark.daemon_prewarm``, which executes this
    # block, while a stray ``import pulseboard_spark.daemon_prewarm`` from
    # driver or test code stays side-effect-free (a module-level freeze
    # would permanently exempt the importer's entire current heap from
    # garbage collection).

    # One BLAS thread per worker (set BEFORE numpy loads OpenBLAS): task
    # slots already equal cores, so BLAS-side threading (used by the
    # audited-BLAS cosine kernels, similarity._gram6) can only oversubscribe
    # — 32 workers × N threads fight for 32 cores.  Inherited by every
    # forked worker via the daemon env.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")

    # The preload: order matches the worker's own lazy import chain.
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    # The serializer layer pyspark.worker reaches for on the first Arrow
    # batch (pulls pyspark.sql.pandas.types and friends).
    import pyspark.sql.pandas.serializers  # noqa: F401

    # Zip directories are re-read per task only when the archive changed
    # (module docstring, "Per-task cost").  Installed after the preload so
    # the importers it created are stamped too.
    install_zip_stamps()

    # Freeze the preloaded object graph into the permanent generation.  The
    # worker loop runs ``gc.collect()`` after EVERY task (pyspark/daemon.py
    # reuse loop); without the freeze each collect traverses the ~10^5
    # inherited module objects and dirties their gc headers — breaking the
    # fork's copy-on-write sharing AND paying the traversal per task
    # (measured: +0.2-0.5 s per warm kernel run).  This is exactly the
    # fork-server pattern gc.freeze() is documented for; module objects are
    # immortal in practice, so excluding them from collection loses nothing.
    import gc

    gc.collect()
    gc.freeze()

    # pyspark.daemon resolves the worker module from sys.argv at import
    # time (daemon.py:34-40); `python -m pulseboard_spark.daemon_prewarm
    # pyspark.worker` leaves argv[1] exactly where it expects it.
    from pyspark.daemon import manager

    manager()
