"""The fork-free ``file://`` file system installed by ``get_session``.

``parquet_stream_writer_spark.jvm`` replaces Hadoop's shell-outs
(``chmod`` on create/mkdirs, ``readlink`` on link-status lookups) with
``java.nio``. Each test compares the session's classes with freshly
initialized stock Hadoop classes in the same JVM: same modes, same link
status, same errors."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
from pathlib import Path

import pytest

from parquet_stream_writer_spark import jvm

MODES = (0o644, 0o600, 0o755, 0o700, 0o444)


@pytest.fixture(scope="module")
def hadoop(spark):
    return spark._jvm.org.apache.hadoop


@pytest.fixture(scope="module")
def file_systems(spark, hadoop):
    """(stock LocalFileSystem, the session's file:/// FileSystem)."""
    uri = spark._jvm.java.net.URI("file:///")
    stock = hadoop.fs.LocalFileSystem()
    stock.initialize(uri, hadoop.conf.Configuration())
    session = hadoop.fs.FileSystem.get(uri, spark._jsc.hadoopConfiguration())
    return stock, session


@pytest.fixture()
def links(tmp_path):
    """A regular file, a directory, a symlink, a dangling symlink and a
    missing path."""
    (tmp_path / "file").write_bytes(b"abc")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    (tmp_path / "dangling").symlink_to(tmp_path / "nowhere")
    return [tmp_path / n for n in ("file", "dir", "link", "dangling", "missing")]


def _link_status(get, path):
    """Comparable outcome of a link-status lookup, or the Java
    exception's class name."""
    try:
        st = get(path)
    except Exception as e:  # noqa: BLE001 - Py4JJavaError
        return e.java_exception.getClass().getName()
    target = st.getSymlink().toString() if st.isSymlink() else None
    return st.isSymlink(), target, st.getLen()


def test_jar_built_from_committed_sources():
    """The committed jar records the hash of the .java files it was
    built from; rebuild with ``python tools/build_jvm_shim.py``."""
    assert jvm.SOURCES and jvm.JAR.is_file()
    assert jvm.jar_sources_sha256() == jvm.sources_sha256()


def test_session_uses_nio_file_systems(spark, hadoop, file_systems):
    _, session = file_systems
    assert session.getClass().getName() == jvm.FILE_SYSTEM_CLASS
    assert session.getRawFileSystem().getClass().getName().endswith("NioRawLocalFileSystem")
    fc = hadoop.fs.FileContext.getFileContext(
        spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fc.getDefaultFileSystem().getClass().getName() == jvm.ABSTRACT_FILE_SYSTEM_CLASS


def test_create_and_mkdirs_modes_match_stock(hadoop, file_systems, tmp_path):
    def modes(fs, root, mode):
        perm = hadoop.fs.permission.FsPermission(mode)
        f, d = root / f"f{mode:o}", root / f"d{mode:o}"
        fs.create(hadoop.fs.Path(str(f)), perm, False, 4096, 1, 32 << 20, None).close()
        assert fs.mkdirs(hadoop.fs.Path(str(d)), perm)
        crc = root / f".{f.name}.crc"
        return [os.stat(p).st_mode for p in (f, crc, d)]

    for mode in MODES:
        got = [modes(fs, tmp_path / side, mode) for side, fs in zip(("stock", "nio"), file_systems)]
        assert got[0] == got[1], oct(mode)
        assert stat.S_IMODE(got[1][0]) == mode
        assert stat.S_IMODE(got[1][2]) == mode


def test_sticky_bit_falls_back_to_stock(hadoop, file_systems, tmp_path):
    """``PosixFilePermission`` has no sticky bit: such a mode takes the
    stock shell path and still applies."""
    for side, fs in zip(("stock", "nio"), file_systems):
        d = tmp_path / side
        d.mkdir(mode=0o700)
        fs.setPermission(hadoop.fs.Path(str(d)), hadoop.fs.permission.FsPermission(0o1777))
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777, side


def test_link_status_matches_stock(hadoop, file_systems, links):
    stock, session = file_systems
    for p in links:
        # Both the plain and the qualified form: the stock class reads
        # the link through the path string as given.
        for form in (str(p), f"file:{p}"):
            path = hadoop.fs.Path(form)
            want = _link_status(stock.getFileLinkStatus, path)
            assert _link_status(session.getFileLinkStatus, path) == want, form
    file_, dir_, link, dangling, missing = (hadoop.fs.Path(str(p)) for p in links)
    assert _link_status(session.getFileLinkStatus, file_) == (False, None, 3)
    assert _link_status(session.getFileLinkStatus, dir_)[0] is False
    assert _link_status(session.getFileLinkStatus, link) == (True, f"file:{links[0]}", 3)
    assert _link_status(session.getFileLinkStatus, dangling) == (True, f"file:{links[3].parent}/nowhere", 0)
    assert _link_status(session.getFileLinkStatus, missing) == "java.io.FileNotFoundException"
    assert session.getLinkTarget(link).toString() == str(links[0])


def test_file_context_link_status_matches_stock(spark, hadoop, links):
    stock = hadoop.fs.FileContext.getLocalFSFileContext()
    session = hadoop.fs.FileContext.getFileContext(
        spark._jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert stock.getDefaultFileSystem().getClass().getName() == "org.apache.hadoop.fs.local.LocalFs"
    for p in links:
        path = hadoop.fs.Path(str(p))
        want = _link_status(stock.getFileLinkStatus, path)
        assert _link_status(session.getFileLinkStatus, path) == want, p


def test_jvm_started_without_the_jar_keeps_stock_hadoop(tmp_path):
    """A JVM's classpath is fixed at launch: after a session built
    elsewhere is stopped, ``get_session`` in the same process must not
    name the missing classes, or every file access would fail."""
    script = f"""
from pyspark.sql import SparkSession
SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate().stop()
from parquet_stream_writer_spark.session import get_session
spark = get_session("no-jar")
spark.range(3).write.parquet({str(tmp_path / "out")!r})
print(spark.read.parquet({str(tmp_path / "out")!r}).count())
print(spark._jsc.hadoopConfiguration().get("fs.file.impl"))
"""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    root = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["3", "None"]
