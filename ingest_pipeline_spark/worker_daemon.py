"""Python worker daemon: ``pyspark.daemon`` with lazy zip-archive invalidation.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark forks every Python worker from the daemon, so each ``mapInPandas``,
Arrow UDF and Python RDD task inherits the patch installed here.

Why it exists: before each task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()`` so that files registered with
``SparkContext.addPyFile`` become importable.  On CPython <= 3.12 that makes
every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
whole archive directory.  A worker holds about 16 of them: 12 on
``pyspark.zip`` (one per imported sub-package, 1,328 entries), 2 on the
spark-core jar (5,359 entries) and 2 on py4j.  Measured on a 4-core host
with Spark 4.1.2 and CPython 3.11, that is ~235 ms per task before the
task's function starts, at any data size.

CPython 3.13 made this invalidation lazy: ``zipimporter.invalidate_caches``
only drops the archive's entry in the shared ``_zip_directory_cache``, and
every importer reads its directory through ``zipimporter._get_files``, which
re-reads the archive once, on the next lookup.  ``_install`` backports the
effect where ``_get_files`` is missing.  The patched method re-reads an
archive only when its ``(st_mtime_ns, st_size)`` differs from the stamp taken
before its last read.  Otherwise it re-points the importer at the shared
directory cache, so the sibling importers of one archive never keep a
directory that another importer has since re-read.  The one change it
misses is an archive rewritten in place, within one mtime tick, to the same
size.

Workers import this module before any task runs, so it must stay
import-light: the standard library and ``pyspark.daemon`` only.  The
package ``__init__`` is docstring-only for the same reason.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> (st_mtime_ns, st_size) before last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    """Re-read this importer's archive only if it changed since its last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def _install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` unless the interpreter already
    invalidates lazily; True when patched."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    _install()
    from pyspark import daemon

    daemon.manager()
