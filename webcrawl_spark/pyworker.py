"""Per-process set-up for the Python workers that run engine code.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the whole central directory of
its archive, once for every cached importer — one per package directory
imported from ``pyspark.zip``, py4j and a shipped ``--py-files`` zip. A
reused worker paid ~17 directory reads (~0.15 s on 3.11) on every trivial
task. CPython 3.13 made the invalidation lazy: it drops the archive's
``_zip_directory_cache`` entry, and the next lookup reads the directory
once per archive. :func:`lazy_zip_invalidation` installs that
behaviour on 3.11/3.12; the package ``__init__`` calls it inside tasks.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self) -> dict:
    """The archive's directory, read again only after an invalidation
    (CPython 3.13 ``zipimporter._get_files``)."""
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _set_files(self, files) -> None:
    # ``zipimporter.__init__`` assigns the directory it has just cached
    # under its archive path; the cache is the one copy
    pass


def _invalidate_caches(self) -> None:
    """Drop the archive's cached directory; the next lookup re-reads it."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy in this process, as it is
    from CPython 3.13 on. Idempotent; a no-op on Python >= 3.13. Importers
    created before the call read the shared cache too (a data descriptor
    shadows their instance ``_files``)."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or zi.invalidate_caches is _invalidate_caches:
        return
    zi._files = property(_get_files, _set_files)
    zi.invalidate_caches = _invalidate_caches
