"""Start-up hook of the Python workers of local sessions: pyspark
imported from bytecode-cached sources where it can be, and a zip-import
cache that survives ``importlib.invalidate_caches()`` (timings in
SCALE.md "Python worker boundary").

Where it runs.  ``session.get_session`` puts ``_worker_site/`` on the
workers' PYTHONPATH for masters whose workers run on this host, and
``site`` imports the ``sitecustomize`` there at start-up of every
``pyspark.daemon``: the UDF daemon, and the Python data-source planner,
writer and streaming-sink daemons, which Spark starts under its stock
daemon module whatever the session's conf says.  :func:`install` runs
there before anything imports pyspark, so before the daemon forks.

Bytecode.  Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on
the daemon's ``sys.path``.  The zip holds no ``.pyc`` and zipimport
never writes bytecode, so a daemon and its workers importing from it
compile pyspark from source.  :func:`prefer_installed` drops the zip
when the pyspark that the rest of ``sys.path`` resolves holds every file
of the zip outside its ``tests/`` and ``benchmark/`` dirs, each with the
CRC-32 that the zip's directory records (about 30 ms).  A file that
differs or is missing, a zip member outside ``pyspark/``, no installed
pyspark, or an unreadable file keeps ``sys.path`` as Spark built it.

Zip-import cache.  Every Python task ends
``pyspark.worker_util.setup_spark_files`` with
``importlib.invalidate_caches()``, which on CPython 3.11 makes every
zipimporter in ``sys.path_importer_cache`` re-read its archive's central
directory; workers importing the installed pyspark still hold py4j's zip
and the spark-core jar.  :func:`invalidate_caches` keeps an archive's
cached directory while its ``(st_dev, st_ino, st_size, st_mtime_ns)`` is
unchanged since its last read, and calls CPython's own method for a
changed, new or unreadable archive.
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


def _record_archives() -> None:
    """Read each imported archive whose signature is not recorded yet;
    a recorded one costs one ``stat``."""
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


def install() -> None:
    """The workers' start-up hook: import pyspark from bytecode where
    :func:`prefer_installed` allows, patch :func:`invalidate_caches` in,
    and record every imported archive before each fork, so forked
    workers start with every signature recorded.  Writes nothing to
    stdout, where ``pyspark.daemon`` sends its port."""
    prefer_installed(sys.path)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    os.register_at_fork(before=_record_archives)


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

