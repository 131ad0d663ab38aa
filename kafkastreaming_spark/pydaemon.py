"""Python worker daemon for local sessions: Spark's ``pyspark.daemon``,
importing pyspark from bytecode-cached sources where it can, with a
zip-import cache that survives ``importlib.invalidate_caches()``.

Bytecode.  Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on
the daemon's ``sys.path``.  That zip holds no ``.pyc`` and zipimport
never writes bytecode, so every new application's daemon compiled
``pyspark.daemon``, ``pyspark.worker`` and their imports from source,
and each forked worker compiled its lazy ``pyspark.sql.*`` imports
again.  ``import pyspark.daemon, pyspark.worker`` took 1.35-1.45 s from
the zip and 0.27-0.30 s from the interpreter's installed pyspark, which
has ``__pycache__`` (5 fresh interpreters each, 4-vCPU VM); the cold
first ``mapInPandas`` job of a fresh application (applications 2-4 of
one process, ``local[2]``) went 1.82-2.50 s -> 1.13-1.29 s.
:func:`prefer_installed` drops the zip from ``sys.path`` when the
pyspark that the rest of ``sys.path`` resolves holds every file of the
zip outside its ``tests/`` and ``benchmark/`` dirs, each with the CRC-32
that the zip's directory records (about 30 ms).  A file that differs or
is missing, a zip member outside ``pyspark/``, no installed pyspark, or
an unreadable file keeps ``sys.path`` as Spark built it.

Zip-import cache.  Every Python task runs
``pyspark.worker_util.setup_spark_files``, which ends with
``importlib.invalidate_caches()``.  On CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every zipimporter in
``sys.path_importer_cache``, and each call re-reads its archive's
central directory.  A worker importing pyspark from pyspark.zip held 16
of them (one per sub-package, plus py4j's zip), so each task re-read the
same two directories 16 times: 0.13-0.25 s per Python task on a 4-vCPU
VM.  Workers that import the installed pyspark still hold py4j's zip and
the spark-core jar: without the cache their per-task
``importlib.invalidate_caches()`` took 101-103 ms against 0.1 ms, and a
warm trivial ``mapInPandas`` job 0.35-0.36 s against 0.19-0.23 s.

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
import zipfile
import zipimport
import zlib
from importlib.machinery import PathFinder

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> stat signature taken just before its last read
_read_at: dict[str, tuple[int, int, int, int]] = {}

# zip members under a directory of one of these names need no installed
# copy: pyspark.zip ships its test suites and benchmarks, and the
# installed package does not
_UNSHIPPED_DIRS = frozenset({"tests", "benchmark"})


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


def _same_files(archive: str, prefix: str, package: str) -> bool:
    """Whether every file of ``archive`` under ``prefix`` and outside the
    unshipped dirs is ``pyspark/<path>`` and has the recorded CRC-32 at
    ``package/<path>``."""
    try:
        with zipfile.ZipFile(archive) as z:
            members = z.infolist()
        for m in members:
            name = m.filename
            if m.is_dir() or not name.startswith(prefix):
                continue
            rel = name[len(prefix) :]
            if _UNSHIPPED_DIRS.intersection(rel.split("/")[:-1]):
                continue
            if not rel.startswith("pyspark/"):
                return False
            with open(os.path.join(package, rel[len("pyspark/") :]), "rb") as f:
                if zlib.crc32(f.read()) != m.CRC:
                    return False
    except (OSError, zipfile.BadZipFile):
        return False
    return True


def prefer_installed(path: list[str]) -> bool:
    """Drop the zip archive that ``pyspark`` resolves to on ``path`` when
    the rest of ``path`` resolves a pyspark on disk with the same files
    (:func:`_same_files`), so it imports from cached bytecode.  Returns
    whether ``path`` changed; otherwise it is left as it was."""
    spec = PathFinder.find_spec("pyspark", path)
    loader = spec.loader if spec else None
    if not isinstance(loader, zipimport.zipimporter):
        return False
    rest = [p for p in path if p != loader.archive]
    installed = PathFinder.find_spec("pyspark", rest)
    if installed is None or not installed.submodule_search_locations:
        return False
    package = installed.submodule_search_locations[0]
    if not _same_files(loader.archive, loader.prefix, package):
        return False
    path[:] = rest
    sys.path_importer_cache.pop(loader.archive, None)
    return True


if __name__ == "__main__":
    # Patch through the package module, so workers that import it see
    # the same function and signatures.
    from kafkastreaming_spark import pydaemon

    pydaemon.prefer_installed(sys.path)

    import pyspark.daemon

    pydaemon.install()
    pyspark.daemon.manager()
