"""Lazy ``zipimporter`` cache invalidation for the engine's Python workers.

pyspark starts every Python task with ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before CPython 3.13 that
makes every cached ``zipimport.zipimporter`` re-read its archive's whole
central directory: with a zipped pyspark that is ~16 importers over
pyspark.zip's 1,328 entries, 0.10-0.20 s per task. CPython 3.13 made
the re-read lazy (``zipimporter._get_files``).

This module backports the saving. It wraps
``zipimporter.invalidate_caches`` so an importer re-reads only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the one it
last read at; a replaced or rewritten archive is still re-read, so the
method keeps its contract. On an interpreter that already has the lazy
``_get_files`` it does nothing. The package imports it, so every worker
that unpickles an engine UDF or data source gets it.
"""

from __future__ import annotations

import os
import zipimport


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _install() -> None:
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return
    eager = cls.invalidate_caches

    def invalidate_caches(self):
        # stat before the read: a write racing the read changes the
        # signature, so the next call re-reads
        sig = _signature(self.archive)
        if sig is None or sig != getattr(self, "_read_signature", None):
            eager(self)
            self._read_signature = sig

    cls.invalidate_caches = invalidate_caches


_install()
