"""The process-free ``file:`` file system (table_demo_spark/localfs.py)
against stock Hadoop, through the live session's JVM: both answer
``getFileLinkStatus`` and ``setPermission`` alike, the NIO one without
child processes; and without ``javac`` the session is stock Hadoop."""

from __future__ import annotations

import os

import pytest
from py4j.protocol import Py4JJavaError

from table_demo_spark import localfs
from table_demo_spark.session import get_spark

KEYS = (
    "spark.driver.extraClassPath",
    "spark.hadoop.fs.file.impl",
    "spark.hadoop.fs.AbstractFileSystem.file.impl",
)
NS_LAST_PID = "/proc/sys/kernel/ns_last_pid"


@pytest.fixture(scope="module")
def jvm(spark):
    hc = spark._jsc.hadoopConfiguration()
    if hc.get("fs.file.impl") != localfs.FS_IMPL:
        pytest.skip("session runs stock Hadoop (no javac)")
    return spark._jvm


def _raw_pair(spark, jvm):
    """(stock, NIO) raw local file systems, initialised like the session's."""
    hc = spark._jsc.hadoopConfiguration()
    pair = (
        jvm.org.apache.hadoop.fs.RawLocalFileSystem(),
        getattr(jvm.tds, "NioLocal$RawFileSystem")(),
    )
    for fs in pair:
        fs.initialize(jvm.java.net.URI("file:///"), hc)
    return pair


def _link_status(jvm, fs, path: str):
    try:
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName(), e.java_exception.getMessage()
    link = st.getSymlink().toString() if st.isSymlink() else None
    return st.isSymlink(), link, st.isDirectory(), st.getLen()


def test_link_status_matches_stock(spark, jvm, tmp_path):
    (tmp_path / "f").write_bytes(b"12345")
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "lf")
    os.symlink(tmp_path / "missing", tmp_path / "ld")
    stock, nio = _raw_pair(spark, jvm)
    seen = set()
    for name in ("f", "d", "lf", "ld"):
        for path in (str(tmp_path / name), f"file:{tmp_path / name}"):
            want = _link_status(jvm, stock, path)
            assert _link_status(jvm, nio, path) == want, path
            seen.add(want[0])
    assert {True, False} <= seen  # links were seen as links, files as not


def test_set_permission_matches_stock(spark, jvm, tmp_path):
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    stock, nio = _raw_pair(spark, jvm)
    cases = [(m, False) for m in (0o600, 0o644, 0o700, 0o755)] + [(0o1777, True)]
    for mode, is_dir in cases:
        got = []
        for i, fs in enumerate((stock, nio)):
            p = tmp_path / f"{mode:o}-{i}"
            p.mkdir() if is_dir else p.write_bytes(b"x")
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), FsPermission(mode))
            got.append(os.stat(p).st_mode)
        assert got[0] == got[1], oct(mode)
        assert got[1] & 0o7777 == mode, oct(mode)


def _pids_for_create_rename(spark, jvm, root, abstract_fs: str, n: int = 100) -> int:
    """Pids the kernel handed out while FileContext created and renamed
    ``n`` files (no overwrite, as Spark's checkpoint commit does)."""
    hc = jvm.org.apache.hadoop.conf.Configuration(spark._jsc.hadoopConfiguration())
    hc.set("fs.AbstractFileSystem.file.impl", abstract_fs)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), hc)
    gw = spark.sparkContext._gateway
    create = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
    opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.CreateOpts, 0)
    rename = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    rename[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    Path = jvm.org.apache.hadoop.fs.Path
    with open(NS_LAST_PID) as f:
        first = int(f.read())
    for i in range(n):
        src, dst = Path(f"{root}/.{i}.tmp"), Path(f"{root}/{i}")
        out = fc.create(src, create, opts)
        out.write(b"x")
        out.close()
        fc.rename(src, dst, rename)
    with open(NS_LAST_PID) as f:
        return int(f.read()) - first


def test_file_context_commit_spawns_no_processes(spark, jvm, tmp_path):
    if not os.access(NS_LAST_PID, os.R_OK):
        pytest.skip("no pid counter")
    counts = {}
    for name, impl in (("stock", "org.apache.hadoop.fs.local.LocalFs"), ("nio", localfs.ABSTRACT_FS_IMPL)):
        (tmp_path / name).mkdir()
        counts[name] = _pids_for_create_rename(spark, jvm, tmp_path / name, impl)
        files = os.listdir(tmp_path / name)
        assert sum(not f.startswith(".") for f in files) == 100, name
        assert sum(f.endswith(".crc") for f in files) == 100, name  # checksums kept
    assert counts["nio"] * 4 < counts["stock"], counts


def _options_of_get_spark(monkeypatch) -> dict:
    """The settings ``get_spark`` hands the builder when no JVM is up
    (the builder is stubbed, so none starts)."""
    from unittest import mock

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    seen = {}

    def capture(builder):
        seen.update(builder._options)
        return mock.MagicMock()

    with monkeypatch.context() as m:
        m.setattr(SparkContext, "_gateway", None)
        m.setattr(SparkSession.Builder, "getOrCreate", capture)
        get_spark(master="local[2]")
    return seen


def test_no_javac_leaves_stock_hadoop(monkeypatch, tmp_path):
    if localfs.build_classes() is not None:  # the positive control
        opts = _options_of_get_spark(monkeypatch)
        assert opts["spark.hadoop.fs.file.impl"] == localfs.FS_IMPL
    monkeypatch.setenv("PATH", str(tmp_path))  # no javac, and no cached build
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    assert localfs.build_classes() is None
    opts = _options_of_get_spark(monkeypatch)
    assert not set(KEYS) & set(opts)


def test_get_spark_on_live_session_keeps_file_impl(spark):
    def impls():
        session_conf = spark._jsparkSession.sessionState().newHadoopConf()
        return spark._jsc.hadoopConfiguration().get("fs.file.impl"), session_conf.get("fs.file.impl")

    before = impls()
    # the conftest session's own arguments, so no session setting moves
    assert get_spark(app_name="tests", master="local[4]", shuffle_partitions=4) is spark
    assert impls() == before
