"""Lazy zip-archive cache invalidation, as CPython 3.13 does it.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task (``pyspark/worker_util.py:setup_spark_files``).  Before 3.13,
``zipimporter.invalidate_caches`` re-reads the archive's central
directory at once, and it does so for every zipimporter instance: a
worker holds one per ``sys.path`` entry inside ``pyspark.zip``, the py4j
zip and the Spark jars, so each task parses tens of thousands of zip
entries before it runs.  3.13 only drops the cached directory, and the
next lookup in that archive reads it again.

Importing this module gives the running interpreter that behaviour when
it is older than 3.13.  ``zipimporter._files`` becomes a property over
``zipimport._zip_directory_cache`` (3.13's ``_get_files``), so every
lookup sees the current directory, and ``invalidate_caches`` only pops
the cache entry.  The package imports it from ``__init__``; every kernel
imports the package, so a reused worker runs lazily from its first task
on.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    cache = zipimport._zip_directory_cache
    try:
        return cache[self.archive]
    except KeyError:
        try:
            files = cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _set_files(self, files):
    # with invalidate_caches replaced, the pre-3.13 __init__ is the only
    # writer: it assigns _files before archive, right after caching the
    # same dict under the archive path, so there is nothing to store
    pass


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def _install() -> None:
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    cls._files = property(_files, _set_files)
    cls.invalidate_caches = _invalidate_caches
    # the property shadows the instance attribute of importers made
    # before this ran; drop their stale directory copies
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls):
            vars(importer).pop("_files", None)


_install()
