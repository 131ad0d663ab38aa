"""Python worker daemon for local sessions: Spark's ``pyspark.daemon``
with a zip-import cache that survives ``importlib.invalidate_caches()``.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
ends with ``importlib.invalidate_caches()``.  On CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every zipimporter in
``sys.path_importer_cache``, and each call re-reads its archive's
central directory.  A worker importing pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (1328 entries) holds 16 of them
(one per sub-package, plus py4j's zip), so each task re-read the same
two directories 16 times: 0.13-0.25 s per Python task on a 4-vCPU VM.

:func:`invalidate_caches` keeps an archive's cached directory while its
``(st_dev, st_ino, st_size, st_mtime_ns)`` is unchanged since its last
read, and calls CPython's own method for a changed, new or unreadable
archive.  :func:`install` patches it in before :func:`pyspark.daemon.
manager` forks the workers, so every worker inherits it.

``session.get_session`` sets ``spark.python.daemon.module`` to this
module for masters whose workers run on this host (SCALE.md "Python
worker boundary").  Spark starts it as
``python -m kafkastreaming_spark.pydaemon <worker module>``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> stat signature taken just before its last read
_read_at: dict[str, tuple[int, int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stat signature moved since the last read.  The signature is
    taken before the read, so a rewrite during the read shows up as a
    change at the next call."""
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _read_at.get(self.archive) == sig:
        self._files = files
        return
    _stock_invalidate(self)
    if sig is not None and self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = sig
    else:
        _read_at.pop(self.archive, None)


def install() -> None:
    """Patch :func:`invalidate_caches` in and read each imported archive
    once, so forked workers start with every signature recorded."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    import pyspark.daemon

    # Patch through the package module, so workers that import it see
    # the same function and signatures.
    from kafkastreaming_spark import pydaemon

    pydaemon.install()
    pyspark.daemon.manager()
