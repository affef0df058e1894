"""PySpark-native main-content extraction engine.

A brand-new, Spark-first re-expression of the capabilities of the reference
OCR microservice at /root/reference (B748/ocr-mini-service): per-turn layout
extraction, baseline reading order, code-overlap pruning, and result assembly,
run as a batch(+resumable, +incremental) job over a transcripts table at
arbitrary scale.
"""

import zipimport

__version__ = "0.1.0"


def lazy_zip_invalidation() -> bool:
    """Whether ``zipimporter.invalidate_caches`` only drops the cached zip
    directory (CPython 3.13+, or the backport below) instead of re-reading it."""
    return hasattr(zipimport.zipimporter, "_get_files")


def _install_lazy_zip_invalidation() -> None:
    """Backport CPython 3.13's lazy ``zipimporter.invalidate_caches``.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task.  Before 3.13 each zipimporter then re-reads its archive's whole
    central directory; a worker holds one zipimporter per package directory
    of ``pyspark.zip`` (≈16, 1,328 entries each), so every task paid
    ≈0.15–0.65 s of GIL-holding directory parsing on Python 3.11.  As in
    3.13, invalidation now drops the cached directory and the next lookup
    re-reads it, so a changed archive is still seen.  Also as in 3.13,
    ``pkgutil.iter_modules`` over an archive raises ``KeyError`` between an
    invalidation and the next lookup (it reads the cache directly); PySpark
    calls it only in its data-source lookup worker, which never imports this
    package.  Every worker imports this package when it unpickles an engine
    function, so the patch reaches the workers.
    """
    cache = zipimport._zip_directory_cache

    def _get_files(self):
        try:
            return cache[self.archive]
        except KeyError:
            try:
                files = cache[self.archive] = zipimport._read_directory(self.archive)
            except zipimport.ZipImportError:
                files = {}
            return files

    def invalidate_caches(self):
        cache.pop(self.archive, None)

    cls = zipimport.zipimporter
    cls._get_files = _get_files
    # The methods read ``self._files``; ``__init__`` assigns it the directory
    # it has just cached, so the setter has nothing left to store.
    cls._files = property(_get_files, lambda self, files: None)
    cls.invalidate_caches = invalidate_caches


if not lazy_zip_invalidation():
    _install_lazy_zip_invalidation()
