"""Lazy zip-directory invalidation for Python workers (a CPython backport).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark.worker_util.setup_spark_files``). Up to
CPython 3.12, ``zipimporter.invalidate_caches`` re-reads the importer's
whole archive directory at once, and every cached importer does so: a
reused worker holds one ``zipimporter`` per package directory it has
imported from inside ``pyspark.zip`` (1,328 entries) and the other
shipped zips. With pyspark 4.1.2 on Python 3.11.7 (4-core Xeon VM), one
call over 17 cached importers took 223 ms of CPU, paid by every task
before its own function starts.

CPython 3.13 (gh-103200) made the invalidation lazy, and ``install()``
gives older interpreters the same contract:

- ``invalidate_caches`` only drops ``zipimport._zip_directory_cache[archive]``;
- ``_files`` is served from that cache, so the first lookup after an
  invalidation re-reads the archive once for all its importers, and a
  rewritten archive is seen.

``install()`` is idempotent and does nothing where the stdlib is lazy
already. The package calls it only inside a Python worker task.
"""

from __future__ import annotations

import zipimport


def _get_files(self):
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Make ``zipimporter`` cache invalidation lazy (no-op when it is)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or cls.invalidate_caches is _invalidate_caches:
        return
    # ``__init__`` assigns ``_files`` before ``archive``; the cache already
    # holds that dict, so the setter has nothing to store.
    cls._files = property(_get_files, lambda self, files: None)
    cls.invalidate_caches = _invalidate_caches
