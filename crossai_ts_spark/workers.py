"""Python-worker hook for every kernel the engine ships to Spark.

Before each task, pyspark's worker calls ``importlib.invalidate_caches()``.
Before CPython 3.13, ``zipimporter.invalidate_caches`` re-reads the whole
zip directory of its archive, eagerly, for each of the worker's
zipimporters: ``pyspark.zip``, the py4j zip and the Spark jars on the path
cost 0.19-0.27 s per task however small the task is. ``install()`` makes
the re-read conditional on the archive's ``(st_ino, st_size, st_mtime_ns)``
having changed since the last read, so ``--py-files`` and ``addPyFile``
archives that change on disk are still re-read. 3.13+ invalidates lazily.

``worker_kernel`` decorates every function passed to ``mapInPandas``,
``applyInPandas``, ``applyInPandasWithState`` or ``pandas_udf``; workers
are reused, so the first task on each worker installs the hook for every
later task (``tests/test_workers.py`` checks the decorator is there).
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int]] = {}  # archive -> stat at last read
_installed = False


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Idempotent per process; a no-op on Python 3.13+."""
    global _installed
    if _installed:
        return
    _installed = True
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)  # before the read: a later write re-reads
        except OSError:
            return reread(self)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        _stamps[self.archive] = stamp

    for path in list(zipimport._zip_directory_cache):
        try:
            _stamps[path] = _stamp(path)
        except OSError:
            pass
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def worker_kernel(fn):
    """Run ``install()`` before ``fn``; keeps ``fn``'s signature, which
    pyspark reads to tell ``f(pdf)`` from ``f(key, pdf)``."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        install()
        return fn(*args, **kwargs)

    run.__signature__ = inspect.signature(fn)
    return run
