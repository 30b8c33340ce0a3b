"""Spark's Python worker daemon, minus the per-task zip re-read.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so the JVM starts its Python workers as
``python -m nifi_extracttext_processor_spark.pydaemon pyspark.worker``.
The module patches ``zipimport`` and then runs ``pyspark.daemon``
unchanged; the forked workers inherit the patch.

Why: pyspark 4.1.2 calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark/worker_util.py:144``, in ``setup_spark_files``).
On CPython 3.11, ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory (``zipimport.py:329``), and a worker holds about
16 zipimporters over ``pyspark.zip`` (1,328 entries). That costs about
0.23 s of worker CPU per task before any user code runs. CPython 3.13
makes the read lazy; 3.11 does not.

The patch: ``zipimporter.invalidate_caches`` re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the stamp taken just
before the last read it made; otherwise it reuses
``zipimport._zip_directory_cache``. A zip rewritten in place is still
picked up by the next ``importlib.invalidate_caches()``.

Nothing else is imported before the daemon forks: pre-importing pandas,
pyarrow or the format parsers measured as no gain (workers are reused)
and would copy their state into every worker.

A session built without ``get_spark`` runs the stock ``pyspark.daemon``
and still pays the per-task re-read. The worker's Python has to import
this module; ``get_spark`` puts the package's parent directory on the
workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so it does
wherever the driver runs.
"""

from __future__ import annotations

import os
import runpy
import zipimport

_invalidate_caches_orig = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    """Re-read the archive's directory only if the archive changed.
    The stamp is taken before the read, so a write racing the read makes
    the stamp stale and the next invalidation reads again."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _invalidate_caches_orig(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimport`` in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main() -> None:
    install()
    # sys.argv[1:] (the worker module) passes through to pyspark.daemon
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    # run the patch from the module's importable copy, so that workers
    # find the patched functions under this module's own name
    from nifi_extracttext_processor_spark.pydaemon import main as _main
    _main()
