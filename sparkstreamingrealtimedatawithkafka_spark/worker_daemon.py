"""Spark's Python worker daemon with CPython 3.13's lazy zipimport invalidation.

Every task a Python worker runs calls ``importlib.invalidate_caches()``
(pyspark's ``setup_spark_files``). On CPython 3.10-3.12 that makes every
``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory, and Spark puts ``pyspark.zip``, the py4j zip and the spark-core
jar ahead of everything else there. CPython 3.13 made the invalidation
lazy: the archive is dropped from ``zipimport._zip_directory_cache`` and
re-read at the next lookup through its importer. ``install`` backports that
onto ``zipimport.zipimporter``, and lets ``pkgutil``, which reads the cache
directly, list an archive whose directory was dropped. Run as a module,
this is ``pyspark.daemon`` with the backport installed before it forks
workers.
"""

from __future__ import annotations

import pkgutil
import sys
import zipimport

# CPython 3.10 gave zipimporter an eager ``invalidate_caches`` and 3.13 made
# it lazy; pyspark needs 3.10 or later.
EAGER_ZIP_INVALIDATION = sys.version_info < (3, 13)


def _get_files(self):
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def _iter_zipimport_modules(importer, prefix=""):
    # pkgutil reads ``_zip_directory_cache`` directly, so fill it first.
    _get_files(importer)
    return pkgutil.iter_zipimport_modules(importer, prefix)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` lazy, as on CPython 3.13."""
    if not EAGER_ZIP_INVALIDATION:
        return
    # ``_files`` becomes a view of the shared cache; being a data descriptor,
    # it also shadows the copy held by importers created before this call.
    # ``__init__`` assigns it the directory it has just stored in the cache,
    # so the setter has nothing to do.
    zipimport.zipimporter._files = property(_get_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    pkgutil.iter_importer_modules.register(zipimport.zipimporter, _iter_zipimport_modules)


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
