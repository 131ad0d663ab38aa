"""The start-up hook of local sessions' Python workers
(``kafkastreaming_spark/pydaemon.py``, run from
``_worker_site/sitecustomize.py``): every worker, UDF and Python data
source alike, imports the installed pyspark when it holds the same files
as Spark's pyspark.zip, a zip archive's directory is re-read by
``importlib.invalidate_caches()`` only when the archive changed, and
workers still see new and rewritten archives."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from kafkastreaming_spark import pydaemon
from kafkastreaming_spark.all import ORACLES
from kafkastreaming_spark.session import (
    _LOCAL_WORKER_CONFS,
    _WORKER_SITE,
    _runtime_confs,
)
from kafkastreaming_spark.streaming.harness import drain
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


_FORK_CHILD = """
import os, sys, zipimport
sys.path.insert(0, sys.argv[1])
from kafkastreaming_spark import pydaemon

pydaemon.install()
sys.path_importer_cache[sys.argv[2]] = zipimport.zipimporter(sys.argv[2])
pid = os.fork()
if pid == 0:
    os._exit(0 if sys.argv[2] in pydaemon._read_at else 1)
sys.exit(os.waitstatus_to_exitcode(os.waitpid(pid, 0)[1]))
"""


def test_install_records_archives_before_fork(tmp_path):
    """After install(), a forked child starts with every archive its
    parent imports from recorded, and the hook wrote nothing to stdout
    (``pyspark.daemon`` sends its port there)."""
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"ks_zip_fork": "X = 1\n"})
    run = subprocess.run(
        [sys.executable, "-c", _FORK_CHILD, REPO, archive],
        capture_output=True, text=True, timeout=60,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout == ""


def test_local_worker_confs_not_runtime():
    """prepare() applies only runtime confs, so a session someone else
    built keeps its own worker environment.  Local sessions keep Spark's
    daemon module and put the hook's directory, which holds no module
    but ``sitecustomize``, on the workers' PYTHONPATH."""
    assert not set(_LOCAL_WORKER_CONFS) & set(_runtime_confs())
    assert not any("daemon" in k for k in _LOCAL_WORKER_CONFS)
    path = _LOCAL_WORKER_CONFS["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    assert path[0] == _WORKER_SITE
    assert [f for f in os.listdir(_WORKER_SITE) if f.endswith(".py")] == [
        "sitecustomize.py"
    ]


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
    # every zip the worker imports from (py4j's under $SPARK_HOME) has
    # its signature recorded
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


def test_session_workers_import_installed_pyspark(spark):
    """Workers load the pyspark the driver imported (cached bytecode),
    not the source-only copy in $SPARK_HOME/python/lib/pyspark.zip."""
    import pyspark

    def where(it):
        import pyspark as worker_pyspark

        for _ in it:
            yield pd.DataFrame({"file": [worker_pyspark.__file__]})

    df = spark.range(4, numPartitions=2)
    files = {r["file"] for r in df.mapInPandas(where, "file string").collect()}
    assert files == {pyspark.__file__}
    assert ".zip" not in pyspark.__file__


def _probe_source(log: str):
    """A Python DataSource whose reader, writers and stream writer append
    to ``log``, from inside each worker that runs them, the worker's
    argv, its ``pyspark.__file__`` and whether the hook's patch is in.
    Nested, so cloudpickle ships the classes by value."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamWriter,
        DataSourceWriter,
        WriterCommitMessage,
    )

    def record(where):
        import json
        import sys
        import zipimport as zi

        import pyspark as worker_pyspark

        from kafkastreaming_spark import pydaemon as d

        row = {
            "where": where,
            "argv": sys.argv,
            "pyspark": worker_pyspark.__file__,
            "patched": zi.zipimporter.invalidate_caches is d.invalidate_caches,
        }
        with open(log, "a") as f:
            f.write(json.dumps(row) + "\n")

    class Reader(DataSourceReader):
        def read(self, partition):
            record("read")
            yield (1,)

    class Writer(DataSourceWriter):
        def write(self, iterator):
            record("write")
            for _ in iterator:
                pass
            return WriterCommitMessage()

        def commit(self, messages):
            record("commit")

    class StreamWriter(DataSourceStreamWriter):
        def write(self, iterator):
            for _ in iterator:
                pass
            return WriterCommitMessage()

        def commit(self, messages, batchId):
            record("stream_commit")

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "ks_worker_probe"

        def schema(self):
            return "id long"

        def reader(self, schema):
            record("reader")
            return Reader()

        def writer(self, schema, overwrite):
            record("writer")
            return Writer()

        def streamWriter(self, schema, overwrite):
            record("streamWriter")
            return StreamWriter()

    return Probe


def test_data_source_workers_run_hook(spark, tmp_path):
    """The planner, writer and streaming-sink workers of a Python
    DataSource, which Spark starts under its stock daemon module, run
    the hook too: each loads the installed pyspark and the patch."""
    import pyspark

    log = tmp_path / "workers.jsonl"
    spark.dataSource.register(_probe_source(str(log)))
    assert spark.read.format("ks_worker_probe").load().collect()
    spark.range(2).write.format("ks_worker_probe").mode("append").save()
    src = str(tmp_path / "src")
    spark.range(2).write.parquet(src)
    drain(
        spark,
        spark.readStream.schema("id long").parquet(src)
        .writeStream.format("ks_worker_probe"),
        checkpoint=str(tmp_path / "ckpt"),
    )

    rows = [json.loads(line) for line in log.read_text().splitlines()]
    modules = {r["argv"][-1] for r in rows}
    assert {
        "pyspark.worker",
        "pyspark.sql.worker.plan_data_source_read",
        "pyspark.sql.worker.write_into_data_source",
        "pyspark.sql.worker.commit_data_source_write",
        "pyspark.sql.worker.python_streaming_sink_runner",
    } <= modules, rows
    assert {r["where"] for r in rows} == {
        "reader", "read", "writer", "write", "commit", "streamWriter",
        "stream_commit",
    }
    assert all(r["pyspark"] == pyspark.__file__ and r["patched"] for r in rows), rows


_SPARK_SOURCES = {
    "pyspark/__init__.py": "VERSION = 1\n",
    "pyspark/daemon.py": "def manager():\n    pass\n",
    "pyspark/sql/__init__.py": "",
}


def _layout(tmp_path, zipped=None, installed=None):
    """A pyspark.zip holding ``zipped`` plus a test module and a benchmark
    module, and a site dir holding ``installed`` (no site package when
    None); returns the two ``sys.path`` entries."""
    zipped = dict(_SPARK_SOURCES if zipped is None else zipped)
    zipped["pyspark/tests/test_worker.py"] = "X = 1\n"
    zipped["pyspark/sql/streaming/benchmark/bench.py"] = "X = 1\n"
    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        for name, src in zipped.items():
            z.writestr(name, src)
    site = tmp_path / "site"
    site.mkdir()
    for name, src in (installed or {}).items():
        (site / name).parent.mkdir(parents=True, exist_ok=True)
        (site / name).write_text(src)
    return [archive, str(site)]


def _changed(name, src):
    return {**_SPARK_SOURCES, name: src}


@pytest.fixture
def own_importer_cache(monkeypatch):
    """Path-entry finders made by a test stay out of the session's."""
    monkeypatch.setattr(sys, "path_importer_cache", {})


def test_identical_zip_dropped(tmp_path, own_importer_cache):
    path = _layout(tmp_path, installed=_SPARK_SOURCES)
    assert pydaemon.prefer_installed(path)
    assert path == [str(tmp_path / "site")]
    assert str(tmp_path / "pyspark.zip") not in sys.path_importer_cache


@pytest.mark.parametrize(
    "zipped, installed",
    [
        (None, _changed("pyspark/daemon.py", "def manager():\n    return 1\n")),
        (_changed("pyspark/sql/extra.py", "X = 1\n"), _SPARK_SOURCES),
        (None, None),
    ],
    ids=["changed_source", "zip_only_module", "no_installed_pyspark"],
)
def test_mismatched_zip_kept(tmp_path, own_importer_cache, zipped, installed):
    path = _layout(tmp_path, zipped, installed)
    before = list(path)
    assert not pydaemon.prefer_installed(path)
    assert path == before


_NO_PATH_CHILD = """
import sys
sys.path.insert(0, sys.argv[1])
from kafkastreaming_spark.all import QUERIES
from kafkastreaming_spark.session import get_session

spark = get_session("no_pythonpath", master="local[2]")
QUERIES[sys.argv[2]](spark, sys.argv[3]).toPandas().to_pickle(sys.argv[4])
spark.stop()
"""


@pytest.mark.parametrize("key", ["llm_cosine_nn", "source_python_stream"])
def test_python_udf_key_outside_repo_without_pythonpath(
    sf_dir, oracle_con, tmp_path, key
):
    """A driver that imports the package from sys.path, run from another
    dir with PYTHONPATH unset: its Python workers (UDF and data-source
    daemons alike) still import the package, and a Python-UDF key and a
    Python data-source key match their oracles."""
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
