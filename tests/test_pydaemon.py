"""The Python worker daemon of local sessions
(``kafkastreaming_spark/pydaemon.py``): a zip archive's directory is
re-read by ``importlib.invalidate_caches()`` only when the archive
changed, and workers still see new and rewritten archives."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from kafkastreaming_spark import pydaemon
from kafkastreaming_spark.all import ORACLES
from kafkastreaming_spark.session import _LOCAL_WORKER_CONFS, _runtime_confs
from tools.verify_local import compare

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def patched(monkeypatch):
    """The daemon's method installed for this test only, with no
    recorded signatures, and a counter of directory reads."""
    reads = []
    read_directory = zipimport._read_directory

    def spy(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(pydaemon, "_read_at", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_unchanged_archive_not_reread(tmp_path, patched):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"ks_zip_same": "X = 1\n"})
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    importers[0].invalidate_caches()  # first sight: read and recorded
    patched.clear()
    for imp in importers * 2:
        imp.invalidate_caches()
    assert patched == []
    assert all(imp._files is importers[0]._files for imp in importers)
    assert importers[2].find_spec("ks_zip_same") is not None


def _new_inode(archive, name):
    """Same size, new inode: written aside and renamed over."""
    _write_zip(archive + ".new", {name: "X = 2\n"})
    os.replace(archive + ".new", archive)
    return 2


def _resized_in_place(archive, name):
    ino = os.stat(archive).st_ino
    _write_zip(archive, {name: "X = 22\n"})
    assert os.stat(archive).st_ino == ino
    return 22


def _later_mtime(archive, name):
    """Same inode and size, later mtime: a same-length rewrite."""
    st = os.stat(archive)
    _write_zip(archive, {name: "X = 3\n"})
    assert (os.stat(archive).st_ino, os.stat(archive).st_size) == (
        st.st_ino,
        st.st_size,
    )
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    return 3


@pytest.mark.parametrize("rewrite", [_new_inode, _resized_in_place, _later_mtime])
def test_rewritten_archive_reread(tmp_path, monkeypatch, patched, rewrite):
    """A rewritten archive is read again at the next invalidation, and
    the module it now holds imports through sys.path."""
    name = f"ks_zip{rewrite.__name__}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {name: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(name).X == 1
    importlib.invalidate_caches()
    patched.clear()
    importlib.invalidate_caches()
    assert patched == []

    want = rewrite(archive, name)
    importlib.invalidate_caches()
    assert patched == [archive]
    del sys.modules[name]
    assert importlib.import_module(name).X == want
    del sys.modules[name]


def test_missing_archive_uses_stock_method(tmp_path, patched):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"ks_zip_gone": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    assert archive not in pydaemon._read_at


def test_local_worker_confs_not_runtime():
    """prepare() applies only runtime confs, so a session someone else
    built keeps Spark's stock daemon and worker environment."""
    assert not set(_LOCAL_WORKER_CONFS) & set(_runtime_confs())
    assert _LOCAL_WORKER_CONFS["spark.python.daemon.module"] == pydaemon.__name__


def _worker_report(df):
    """Per partition: whether the worker's zipimporter method is the
    daemon's, and how many of the worker's zip archives have no recorded
    signature.  Nested, so cloudpickle ships it by value (workers cannot
    import this file)."""

    def report(it):
        import sys
        import zipimport as zi

        from kafkastreaming_spark import pydaemon as d

        patched = zi.zipimporter.invalidate_caches is d.invalidate_caches
        archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zi.zipimporter)
        }
        for _ in it:
            yield pd.DataFrame(
                {
                    "patched": [patched],
                    "unrecorded": [len(archives - set(d._read_at))],
                }
            )

    return df.mapInPandas(report, "patched boolean, unrecorded long").collect()


def test_session_workers_run_pydaemon(spark):
    rows = _worker_report(spark.range(4, numPartitions=2))
    assert rows and all(r["patched"] for r in rows)
    # every zip the worker imports from (pyspark.zip and py4j's under
    # $SPARK_HOME) has its signature recorded
    assert all(r["unrecorded"] == 0 for r in rows)


def test_add_py_file_after_workers_started(spark, tmp_path):
    """addPyFile after the workers are running still reaches a UDF: the
    per-task invalidate_caches still sees new archives."""
    df = spark.range(4, numPartitions=2)
    assert _worker_report(df)
    name = f"ks_late_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))

    def late(it):
        mod = importlib.import_module(name)
        for b in it:
            yield pd.DataFrame({"v": [mod.VALUE] * len(b)})

    try:
        assert {r["v"] for r in df.mapInPandas(late, "v long").collect()} == {42}
    finally:
        sys.modules.pop(name, None)


_NO_PATH_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from kafkastreaming_spark.all import QUERIES
from kafkastreaming_spark.session import get_session

spark = get_session("no_pythonpath", master="local[2]", shuffle_partitions=2)
QUERIES[sys.argv[2]](spark, sys.argv[3]).toPandas().to_pickle(sys.argv[4])
spark.stop()
"""


def test_python_udf_key_outside_repo_without_pythonpath(sf_dir, oracle_con, tmp_path):
    """A driver that imports the package from sys.path, run from another
    dir with PYTHONPATH unset: its Python workers (daemon included)
    still import the package, and a Python-UDF key matches its oracle."""
    key = "llm_cosine_nn"
    out = tmp_path / "out.pkl"
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, "-c", _NO_PATH_CHILD, REPO, key, sf_dir, str(out)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    ok, why = compare(pd.read_pickle(out), oracle_con.execute(ORACLES[key]).df())
    assert ok, f"{key}: {why}"
