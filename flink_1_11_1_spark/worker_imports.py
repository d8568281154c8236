"""Zip-import directories that survive ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark.worker_util.setup_spark_files``).  Up to CPython
3.12 a ``zipimporter``'s ``invalidate_caches`` re-reads its archive's
whole central directory in pure Python, and a worker holds one importer
per package prefix it imported from pyspark.zip (1328 entries): about
110 ms of CPU per task, more than most keyed-state folds spend on their
rows.

``install()`` makes an importer re-read its archive only when the
file's ``(st_mtime_ns, st_size)`` differs from the one seen at the last
read; otherwise it re-points the importer at the shared directory cache,
which another importer of the same archive may have refreshed.  The
archives a worker imports from (pyspark.zip, the py4j zip and this
package's content-hashed zip) never change in place, but one that does
is still re-read by every importer of it.  On 3.13, where the stock
method only drops the cache entry and the re-read is lazy, the same
wrapper just keeps the entry.

The package ``__init__`` calls ``install()``, so it takes effect in any
worker that unpickles a function referring to package code.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a rewrite during it shows next time
    _stock_invalidate(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Route every zipimporter's ``invalidate_caches`` through the
    stamp check (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
