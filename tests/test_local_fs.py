"""The fork-free ``file:`` filesystem (``wage_etl_spark/jvm``): writes, epoch
applies and stream checkpoints start no child process, and the answers are
the stock filesystem's — mode bits, ``.crc`` sidecars and their check,
symlinks, rename. Plus the jar's build: cached outside the checkout, built
once, atomic under concurrent first builds."""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from wage_etl_spark import session
from wage_etl_spark.lake.table import LakeTable
from wage_etl_spark.sources.synth import synthesize_events
from wage_etl_spark.streaming.replay import (
    KEY_COLS,
    TARGET_SCHEMA,
    ReplayConfig,
    apply_epoch,
    open_tables,
)
from wage_etl_spark.streaming.structured import start_stream, stream_events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHELL = "org.apache.hadoop.util.Shell"


def shell_forks(spark, tmp_path, fn) -> list[str]:
    """Command lines of the child processes Hadoop's ``Shell`` started while
    ``fn`` ran, from a JFR recording of ``jdk.ProcessStart`` events."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try:
        fn()
    finally:
        rec.stop()
    path = jvm.java.io.File(str(tmp_path / "forks.jfr")).toPath()
    rec.dump(path)
    rec.close()
    return [
        ev.getString("command")
        for ev in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
        if any(
            f.getMethod().getType().getName() == SHELL
            for f in ev.getStackTrace().getFrames()
        )
    ]


def hadoop_conf(spark):
    return spark.sparkContext._jsc.hadoopConfiguration()


def test_session_uses_the_fork_free_filesystem(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hadoop_conf(spark))
    assert fs.getClass().getName() == "wage_etl_spark.jvm.NioLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(hadoop_conf(spark))
    afs = fc.getDefaultFileSystem()
    assert afs.getClass().getName() == "wage_etl_spark.jvm.NioLocalFileSystem$Fs"


def test_lake_write_and_rebucket_start_no_process(spark, tmp_path):
    def work():
        t = LakeTable.create(spark, str(tmp_path / "t"), TARGET_SCHEMA, KEY_COLS, num_buckets=4)
        rows = [(f"r{i % 7}", f"p{i}", "1" * 40, i, "py", f"c{i}", None, 0, 1, None) for i in range(100)]
        t.append(spark.createDataFrame(rows, TARGET_SCHEMA))
        t.rebucket(8)

    assert shell_forks(spark, tmp_path, work) == []


def test_apply_epoch_starts_no_process(spark, tmp_path):
    ev = synthesize_events(spark, n_events=300, n_keys=40, n_epochs=1, invalid_frac=0.05)
    cfg = ReplayConfig(warehouse=str(tmp_path / "wh"), num_buckets=4)
    target, dlq, manifest = open_tables(spark, cfg)
    res = {}

    def work():
        res.update(apply_epoch(spark, cfg, target, dlq, manifest, ev, 0, 0))

    assert shell_forks(spark, tmp_path, work) == []
    assert res["valid"] > 0 and res["quarantined"] > 0


def test_stream_micro_batch_starts_no_process(spark, tmp_path):
    ev = synthesize_events(spark, n_events=300, n_keys=40, n_epochs=1, invalid_frac=0.0)
    events_dir = str(tmp_path / "events")
    ev.repartition(2).write.parquet(events_dir)
    schema = spark.read.parquet(events_dir).schema
    cfg = ReplayConfig(warehouse=str(tmp_path / "wh"), num_buckets=4, keep_tombstones=True)

    def work():
        q = start_stream(
            spark, cfg, stream_events(spark, events_dir, schema), str(tmp_path / "ckpt"),
            trigger_once=True,
        )
        q.awaitTermination(300)

    assert shell_forks(spark, tmp_path, work) == []
    # the checkpoint log (FileContext) was written
    assert os.listdir(tmp_path / "ckpt" / "commits")


def test_written_modes_and_checksums(spark, tmp_path):
    """Hadoop applies its own umask (``fs.permissions.umask-mode``) to the
    0666 file / 0777 directory defaults; the modes on disk are those."""
    jvm = spark._jvm
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(hadoop_conf(spark)).toShort()
    out = tmp_path / "out"
    spark.range(1000).selectExpr("id", "id % 3 AS g").write.partitionBy("g").parquet(str(out))
    data = []
    for root, dirs, files in os.walk(out):
        for d in dirs:
            assert stat.S_IMODE(os.stat(os.path.join(root, d)).st_mode) == 0o777 & ~umask
        for f in files:
            p = os.path.join(root, f)
            assert stat.S_IMODE(os.stat(p).st_mode) == 0o666 & ~umask, p
            if f.endswith(".parquet"):
                data.append(p)
                assert os.path.isfile(os.path.join(root, f".{f}.crc"))
    assert data and 0o666 & ~umask == 0o644

    # one flipped byte fails the .crc check on read
    victim = data[0]
    with open(victim, "r+b") as fh:
        fh.seek(os.path.getsize(victim) // 2)
        b = fh.read(1)
        fh.seek(-1, os.SEEK_CUR)
        fh.write(bytes([b[0] ^ 0xFF]))
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hadoop_conf(spark))
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(victim))
    with pytest.raises(Py4JJavaError, match="ChecksumException"):
        jvm.org.apache.hadoop.io.IOUtils.readFully(stream, bytearray(os.path.getsize(victim)), 0, os.path.getsize(victim))
    stream.close()


def stock_and_nio(spark):
    """(stock, fork-free) raw local filesystems, both initialized."""
    jvm = spark._jvm
    conf = hadoop_conf(spark)
    uri = jvm.java.net.URI("file:///")
    out = []
    for fs in (jvm.org.apache.hadoop.fs.RawLocalFileSystem(), jvm.wage_etl_spark.jvm.NioLocalFileSystem.Raw()):
        fs.initialize(uri, conf)
        out.append(fs)
    return out


@pytest.mark.parametrize("mode", [0o644, 0o755, 0o600, 0o640, 0o704, 0o000, 0o777])
def test_set_permission_matches_chmod(spark, tmp_path, mode):
    jvm = spark._jvm
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    for kind, fs in zip(("stock", "nio"), stock_and_nio(spark)):
        f = tmp_path / f"{kind}.bin"
        f.write_bytes(b"x")
        d = tmp_path / f"{kind}.d"
        d.mkdir()
        for p in (f, d):
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
            assert stat.S_IMODE(os.stat(p).st_mode) == mode, (kind, p)
            os.chmod(p, 0o700)


def link_answer(fs, jvm, p):
    try:
        st = fs.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(p))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return (
        st.isSymlink(), st.isSymlink() and st.getSymlink().toString(),
        st.getPath().toString(), st.isDirectory(), st.getLen(),
    )


def test_file_link_status_matches_readlink(spark, tmp_path):
    jvm = spark._jvm
    (tmp_path / "file").write_bytes(b"abc")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "abs_link")
    os.symlink("file", tmp_path / "rel_link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    names = ["file", "dir", "abs_link", "rel_link", "dangling", "missing"]
    paths = [str(tmp_path / n) for n in names] + [f"file:{tmp_path}/abs_link"]
    stock, nio = stock_and_nio(spark)
    answers = {p: link_answer(nio, jvm, p) for p in paths}
    assert answers == {p: link_answer(stock, jvm, p) for p in paths}
    assert answers[str(tmp_path / "abs_link")][:2] == (True, f"file:{tmp_path}/file")
    assert answers[str(tmp_path / "dangling")][0] is True
    assert answers[str(tmp_path / "file")][0] is False

    # the FileContext side reports the link too
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(hadoop_conf(spark))
    assert fc.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "abs_link"))).isSymlink()


def test_rename_refuses_an_existing_file_like_the_stock_filesystem(spark, tmp_path):
    """The stock ``file:`` filesystem in Spark's bundle is Hive's
    ``ProxyLocalFileSystem``: rename onto an existing file returns false."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hadoop_conf(spark))
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "a").write_bytes(b"a")
    (tmp_path / "b").write_bytes(b"b")
    assert not fs.rename(Path(str(tmp_path / "a")), Path(str(tmp_path / "b")))
    assert (tmp_path / "b").read_bytes() == b"b"
    assert fs.rename(Path(str(tmp_path / "a")), Path(str(tmp_path / "c")))
    assert (tmp_path / "c").read_bytes() == b"a"


BUILD = (
    "import sys; sys.path.insert(0, {repo!r}); {patch}"
    "from wage_etl_spark.session import local_fs_jar; print(local_fs_jar({cache!r}))"
)
NO_SUBPROCESS = (
    "import subprocess; subprocess.run = subprocess.Popen = "
    "lambda *a, **k: (_ for _ in ()).throw(AssertionError('javac called')); "
)


def build_in_fresh_process(cache: str, patch: str = "") -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", BUILD.format(repo=REPO, patch=patch, cache=cache)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def test_jar_builds_once_and_atomically(tmp_path):
    cache = str(tmp_path / "cache")
    # two concurrent first builds
    procs = [build_in_fresh_process(cache) for _ in range(2)]
    outs = [p.communicate(timeout=300) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    jars = {o.strip().splitlines()[-1] for o, _ in outs}
    assert len(jars) == 1
    jar = jars.pop()
    assert os.path.dirname(jar) == cache and not jar.startswith(REPO)
    assert os.listdir(cache) == [os.path.basename(jar)]  # no temp dirs left
    with zipfile.ZipFile(jar) as z:
        assert z.testzip() is None
        assert "wage_etl_spark/jvm/NioLocalFileSystem$Fs.class" in z.namelist()

    # a second fresh process finds it without javac
    p = build_in_fresh_process(cache, NO_SUBPROCESS)
    out, err = p.communicate(timeout=120)
    assert p.returncode == 0, err
    assert out.strip() == jar


def test_no_jdk_falls_back_with_one_warning(tmp_path, monkeypatch):
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no-jdk"))
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    with pytest.warns(UserWarning, match="no javac") as caught:
        assert session.local_fs_jar(str(tmp_path / "cache")) is None
    assert len(caught) == 1
