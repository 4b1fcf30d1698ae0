"""Python-worker setup shared by every engine function that runs in a task.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task. On Python 3.11 that makes each ``zipimporter`` on the
worker's path re-read its archive's central directory (pyspark.zip, py4j,
the spark-core jar): about 0.2 s a task before any work, even in a reused
worker. ``install()`` re-reads an archive only when its stat signature
changed since that importer's last read, so a changed archive is still
re-read. ``crossing(fn)`` wraps a function shipped to a Python worker so its
first call there installs the memo; importing this module runs nothing.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport

_original = zipimport.zipimporter.invalidate_caches


def _signature(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    # stat before the read: an archive rewritten during it is re-read next time
    sig = _signature(self.archive)
    if sig is None or sig != getattr(self, "_read_signature", None):
        _original(self)
        self._read_signature = sig


def install() -> None:
    """Memoize zipimporter.invalidate_caches in this process; idempotent.
    Called inside a task, right after pyspark's own invalidate_caches read
    every cached importer (Spark fetches a changed dependency before a
    task's Python side starts), so their current signatures count as read."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._read_signature = _signature(finder.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def crossing(fn):
    """``fn`` calling install() first (a no-op after the first call in a
    process). Keeps fn's signature, which pyspark reads to decide whether
    a grouped fn takes the key."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        install()
        return fn(*args, **kwargs)

    wrapper.__signature__ = inspect.signature(fn)
    return wrapper
