"""The `file://` Hadoop file system a local-master session runs on:
``kafkastreaming_spark/jvm/NioLocalFileSystem`` sets permission bits
through java.nio instead of a `chmod` child process, and must leave the
same files, .crc side files and modes as Hadoop's LocalFileSystem."""

from __future__ import annotations

import glob
import os
import stat
import subprocess
import zipfile

import pyspark
import pytest

from kafkastreaming_spark.session import _LOCAL_FS_JAR, _in_driver_jvm

JVM_DIR = os.path.dirname(_LOCAL_FS_JAR)


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def _local_fs(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), conf
    )


def _write_tree(spark, fs, root: str) -> None:
    """One mkdirs tree and one created file (with its .crc) under root."""
    P = spark._jvm.org.apache.hadoop.fs.Path
    fs.mkdirs(P(f"file://{root}/a/b/c"))
    out = fs.create(P(f"file://{root}/a/data.bin"), True)
    out.write(bytearray(b"x" * 64))
    out.close()


def test_file_scheme_resolves_to_nio_local_fs(spark):
    fs = _local_fs(spark)
    assert fs.getClass().getName() == "kafkastreaming_spark.jvm.NioLocalFileSystem"
    assert (
        fs.getRaw().getClass().getName()
        == "kafkastreaming_spark.jvm.NioRawLocalFileSystem"
    )


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local[4,2]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://host:7077", False),
        ("yarn", False),
    ],
)
def test_local_fs_only_for_in_process_executors(master, local):
    """Only masters whose tasks run in the driver JVM get the jar and
    the fs.file.impl override."""
    assert _in_driver_jvm(master) is local


def test_created_modes_match_hadoop_local_fs(spark, tmp_path):
    """Files, .crc files and new directories get the same modes as under
    Hadoop's stock LocalFileSystem: the file/dir default less the
    configured umask."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    _write_tree(spark, _local_fs(spark), str(tmp_path / "nio"))
    _write_tree(spark, stock, str(tmp_path / "stock"))
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(conf).toShort()
    want = {
        "a": 0o777 & ~umask,
        "a/b": 0o777 & ~umask,
        "a/b/c": 0o777 & ~umask,
        "a/data.bin": 0o666 & ~umask,
        "a/.data.bin.crc": 0o666 & ~umask,
    }
    for rel, mode in want.items():
        assert _mode(tmp_path / "nio" / rel) == mode, rel
        assert _mode(tmp_path / "stock" / rel) == mode, rel
    assert sorted(os.listdir(tmp_path / "nio" / "a")) == sorted(
        os.listdir(tmp_path / "stock" / "a")
    )


def test_set_permission_sets_exact_bits(spark, tmp_path):
    fs = _local_fs(spark)
    jvm = spark._jvm
    path = tmp_path / "f"
    path.write_bytes(b"x")
    for mode in (0o600, 0o640, 0o700, 0o755):
        fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(f"file://{path}"),
            jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"),
        )
        assert _mode(path) == mode


def test_sticky_mode_goes_through_fallback(spark, tmp_path):
    """Bits above 0777 are not mapped to java.nio; the parent class sets
    them."""
    fs = _local_fs(spark)
    jvm = spark._jvm
    d = tmp_path / "d"
    d.mkdir()
    fs.setPermission(
        jvm.org.apache.hadoop.fs.Path(f"file://{d}"),
        jvm.org.apache.hadoop.fs.permission.FsPermission("1777"),
    )
    assert _mode(d) == 0o1777


def test_committed_jar_matches_sources(tmp_path):
    """The committed jar holds exactly the classes its .java sources
    compile to (build command: NioRawLocalFileSystem.java header)."""
    (api,) = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    subprocess.run(
        ["javac", "--release", "17", "-cp", api, "-d", str(tmp_path), *sources],
        check=True,
    )
    built = {
        p.relative_to(tmp_path).as_posix(): p.read_bytes()
        for p in tmp_path.rglob("*.class")
    }
    with zipfile.ZipFile(_LOCAL_FS_JAR) as jar:
        committed = {
            n: jar.read(n) for n in jar.namelist() if n.endswith(".class")
        }
    assert len(built) == len(sources)
    assert committed == built
