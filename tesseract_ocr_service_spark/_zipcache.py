"""Lazy zip-directory invalidation for reused Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Under CPython
3.11 that makes every ``zipimport.zipimporter`` re-read its archive's
whole central directory — and a worker importing pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds ~15 of them over a
1,328-entry archive: 70-90 ms of CPU per task, before any data moves.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an importer's archive only when its ``(st_mtime_ns,
st_size)`` stamp differs from the one taken at that importer's last
read. A changed or rewritten archive is still picked up on the next
invalidation; an importer never stamped re-reads once; an archive that
cannot be stat'ed goes through the original method. The package
``__init__`` calls :func:`install`, so every worker that unpickles an
engine UDF carries it for the rest of its reused life.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _lazy_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _original(self)
        self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` once per process (idempotent).

    The importers already cached are stamped as read now, so the next
    task's invalidation does not pay one more full re-read."""
    if zipimport.zipimporter.invalidate_caches is _lazy_invalidate:
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            try:
                finder._read_stamp = _stamp(finder.archive)
            except OSError:
                continue
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate
