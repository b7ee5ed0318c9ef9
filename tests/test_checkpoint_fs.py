"""The fork-free ``file:`` FileContext (``jvm/NioLocalFs.java``) that
``session.get_spark`` installs for streaming checkpoint I/O: it must
report what the stock RawLocalFileSystem reports and write the files
the stock LocalFs writes. Recovery through it is covered by the
kill/resume exactly-once tests in test_streaming_semantics.py and
test_webhook_source.py, which run on the same get_spark session."""

import logging
import os

import pytest

from data_webhooks_spark import session

pytestmark = pytest.mark.skipif(
    session._local_fs_classes() is None, reason="no javac: get_spark keeps the stock file: FileContext"
)

AFS_KEY = "fs.AbstractFileSystem.file.impl"
STOCK_AFS = "org.apache.hadoop.fs.local.LocalFs"


def _hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def _fields(st):
    return (
        st.getLen(),
        st.isDirectory(),
        st.getReplication(),
        st.getBlockSize(),
        st.getModificationTime(),
        st.getPermission().toString(),
        st.getOwner(),
        st.getGroup(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.getPath().toString(),
    )


def _status(fs, method, path):
    from py4j.protocol import Py4JJavaError

    try:
        return _fields(getattr(fs, method)(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()


def test_file_status_matches_stock_raw_local_fs(spark, tmp_path):
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    shim = getattr(jvm, f"{session.LOCAL_FS_CLASS}$Raw")()
    for fs in (stock, shim):
        fs.initialize(uri, _hadoop_conf(spark))
    (tmp_path / "file").write_text("hello")
    (tmp_path / "dir").mkdir()
    os.chmod(tmp_path / "dir", 0o1750)  # the sticky bit too
    (tmp_path / "link").symlink_to(tmp_path / "file")
    (tmp_path / "dangling").symlink_to(tmp_path / "gone")
    for name in ("file", "dir", "link", "dangling", "missing"):
        for prefix in ("", "file:"):
            path = jvm.org.apache.hadoop.fs.Path(f"{prefix}{tmp_path / name}")
            for method in ("getFileStatus", "getFileLinkStatus"):
                want = _status(stock, method, path)
                assert _status(shim, method, path) == want, (method, prefix, name)
    # the cases above really took the missing-path and symlink branches
    missing = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing"))
    assert _status(shim, "getFileStatus", missing) == "java.io.FileNotFoundException"
    link = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "link"))
    assert _status(shim, "getFileLinkStatus", link)[8] == f"file:{tmp_path / 'file'}"


def test_create_atomic_writes_the_stock_files(spark, tmp_path):
    """A checkpoint file written through CheckpointFileManager.createAtomic
    gets the stock mode and the same .crc sidecar as under LocalFs."""
    jvm = spark._jvm
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    written = {}
    for impl in (session.LOCAL_FS_CLASS, STOCK_AFS):
        conf = _hadoop_conf(spark)
        conf.set(AFS_KEY, impl)
        d = tmp_path / impl.rsplit(".", 1)[-1]
        mgr = cfm.create(jvm.org.apache.hadoop.fs.Path(str(d)), conf)
        assert mgr.getClass().getSimpleName() == "FileContextBasedCheckpointFileManager"
        mgr.mkdirs(jvm.org.apache.hadoop.fs.Path(str(d / "offsets")))
        out = mgr.createAtomic(jvm.org.apache.hadoop.fs.Path(str(d / "offsets" / "0")), False)
        out.write(bytearray(b'v1\n{"offset": 42}'))
        out.close()
        written[impl] = {
            p.relative_to(d).as_posix(): (oct(p.stat().st_mode), p.read_bytes() if p.is_file() else None)
            for p in sorted(d.rglob("*"))
        }
    assert written[session.LOCAL_FS_CLASS] == written[STOCK_AFS]
    assert set(written[STOCK_AFS]) == {"offsets", "offsets/0", "offsets/.0.crc"}


def test_session_file_context_is_the_shim(spark):
    """Checkpoint I/O (FileContext) resolves to the shim; parquet I/O
    (FileSystem, fs.file.impl) stays stock."""
    jvm = spark._jvm
    conf = _hadoop_conf(spark)
    uri = jvm.java.net.URI("file:///")
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert fc.getDefaultFileSystem().getClass().getName() == session.LOCAL_FS_CLASS
    assert conf.get("fs.file.impl") is None
    fs_class = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass
    assert fs_class("file", conf) == fs_class("file", jvm.org.apache.hadoop.conf.Configuration())


def test_stock_fallback_sets_neither_conf(spark, monkeypatch, caplog):
    """A JVM that cannot load the class, or a host without javac, keeps
    the stock FileContext: no classpath entry and no FileContext conf,
    one warning."""
    monkeypatch.setattr(session, "LOCAL_FS_CLASS", "data_webhooks_spark.jvm.Absent")
    session._warn_stock_local_fs.cache_clear()
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._local_fs_confs() == {}
        assert session._local_fs_confs() == {}
    assert len(caplog.records) == 1

    monkeypatch.setattr(session.shutil, "which", lambda _: None)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session._local_fs_classes.__wrapped__() is None
    assert "no javac" in caplog.text
    session._warn_stock_local_fs.cache_clear()
