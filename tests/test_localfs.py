"""The fork-free local file system (dasladen_spark/jvm): the session's
``file:`` writes, commits and streaming checkpoints start no process,
and every mode, status and output comes out as with Hadoop's stock
``LocalFileSystem``/``LocalFs``."""

import hashlib
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pytest

from dasladen_spark.session import (
    LOCALFS_CONF,
    LOCALFS_JAR,
    _localfs_loadable,
    _merge_class_path,
)
from dasladen_spark.streaming.ingest import run_available_now, stream_csv_folder

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fs(spark, cls=None):
    """The session's ``file:`` FileSystem, or a fresh ``cls`` built on
    the session's Hadoop conf (same umask)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    if cls is None:
        return jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    fs = getattr(jvm.org.apache.hadoop.fs, cls)()
    fs.initialize(uri, conf)
    return fs


def _perm(spark, octal: str):
    return spark._jvm.org.apache.hadoop.fs.permission.FsPermission(octal)


def _mode(path) -> int:
    return os.stat(path).st_mode & 0o7777


def _tree_modes(root) -> dict:
    return {
        os.path.relpath(os.path.join(d, n), root): _mode(os.path.join(d, n))
        for d, dirs, files in os.walk(root)
        for n in dirs + files
    }


def test_session_selects_the_nio_file_systems(spark):
    assert _fs(spark).getClass().getName() == LOCALFS_CONF["spark.hadoop.fs.file.impl"]
    assert _fs(spark).getRaw().getClass().getName() == "dasladen.fs.NioRawLocalFileSystem"
    jvm = spark._jvm
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    assert fc.getDefaultFileSystem().getClass().getName() == "dasladen.fs.NioLocalFs"


@pytest.mark.parametrize("octal", ["644", "755", "700", "600", "777"])
def test_modes_match_stock_local_file_system(spark, tmp_path, octal):
    jvm = spark._jvm
    perm = _perm(spark, octal)
    trees = {}
    for name, fs in (("nio", _fs(spark)), ("stock", _fs(spark, "LocalFileSystem"))):
        root = tmp_path / name
        base = jvm.org.apache.hadoop.fs.Path(str(root))
        d = jvm.org.apache.hadoop.fs.Path(base, "made")
        assert fs.mkdirs(d, perm)
        out = fs.create(jvm.org.apache.hadoop.fs.Path(d, "f"), perm, True, 4096, 1, 1 << 20, None)
        out.write(b"x")
        out.close()
        out = fs.create(jvm.org.apache.hadoop.fs.Path(base, "plain"), True)
        out.close()
        set_dir = jvm.org.apache.hadoop.fs.Path(base, "set")
        fs.mkdirs(set_dir)
        fs.setPermission(set_dir, perm)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(base, "plain"), perm)
        trees[name] = _tree_modes(root)
    assert trees["nio"] == trees["stock"]
    # the explicit setPermission lands exactly, on files and directories
    assert trees["nio"]["set"] == int(octal, 8)
    assert trees["nio"]["plain"] == int(octal, 8)
    assert trees["nio"][".plain.crc"] == int(octal, 8)


def test_sticky_and_setgid_modes_match_stock(spark, tmp_path):
    jvm = spark._jvm
    trees = {}
    for name, fs in (("nio", _fs(spark)), ("stock", _fs(spark, "LocalFileSystem"))):
        root = tmp_path / name
        sticky = root / "sticky"
        sticky.mkdir(parents=True)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(sticky)), _perm(spark, "1777"))
        # an octal chmod keeps a directory's setgid bit, which a
        # subdirectory of a setgid directory inherits
        shared = root / "shared"
        shared.mkdir()
        os.chmod(shared, 0o2775)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(str(shared / "sub")), _perm(spark, "755"))
        trees[name] = _tree_modes(root)
    assert trees["nio"] == trees["stock"]
    assert trees["nio"]["sticky"] == 0o1777
    assert trees["nio"]["shared/sub"] == 0o2755


def test_file_link_status_matches_stock(spark, tmp_path):
    jvm = spark._jvm
    (tmp_path / "file").write_text("abc")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    conf = spark._jsc.hadoopConfiguration()
    nio = jvm.dasladen.fs.NioRawLocalFileSystem()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    for fs in (nio, stock):
        fs.initialize(jvm.java.net.URI("file:///"), conf)

    def status(fs, path):
        try:
            return fs.getFileLinkStatus(path).toString()
        except Exception as e:  # py4j wraps the Java exception
            return type(e).__name__ + ":" + str(e.java_exception.getClass().getName())

    for name in ("file", "dir", "link", "missing"):
        for spelled in (str(tmp_path / name), "file:" + str(tmp_path / name)):
            p = jvm.org.apache.hadoop.fs.Path(spelled)
            assert status(nio, p) == status(stock, p), spelled
    link = nio.getFileLinkStatus(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "link")))
    assert link.isSymlink()
    assert "FileNotFoundException" in status(
        nio, jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing"))
    )


def _forks(spark, tmp_path, fn) -> list[str]:
    """Run ``fn`` under an in-JVM JFR recording; return the command line
    of every process the JVM started meanwhile."""
    jvm = spark._jvm
    # Spark's executor metrics read the page size with one `getconf`
    # per JVM, at the first heartbeat: take it before recording
    jvm.org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo()
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        fn()
    finally:
        rec.stop()
        dump = jvm.java.io.File(str(tmp_path / "forks.jfr")).toPath()
        rec.dump(dump)
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    return [events.get(i).getString("command") for i in range(events.size())]


def test_task_writes_and_streaming_drain_start_no_process(spark, tmp_path):
    from dasladen_spark.runner.taskrun import Runner, TaskRunner

    for d in ("input", "output"):
        (tmp_path / d).mkdir()
    (tmp_path / "input" / "src.csv").write_text("id;name;qty\n1;a;10\n2;b;3\n")
    (tmp_path / "input" / "src.json").write_text(
        '{"id": 1, "name": "a", "qty": 10}\n{"id": 2, "name": "b", "qty": 3}\n'
    )
    tasks = [
        {"name": "cc", "type": "csv-csv", "source": {"file": "src.csv"},
         "target": {"file": "out.csv", "truncate": True}},
        {"name": "cp", "type": "csv-parquet", "source": {"file": "src.csv"},
         "target": {"file": "out.parquet", "truncate": True}},
        {"name": "jp", "type": "json-parquet",
         "source": {"file": "src.json", "schema": "id BIGINT, name STRING, qty BIGINT"},
         "target": {"file": "j.parquet", "truncate": True}},
    ]
    for task in tasks:
        runner = TaskRunner(
            spark,
            Runner({"tasks": [task]}),
            input_path=str(tmp_path / "input"),
            output_path=str(tmp_path / "output"),
            log=lambda m: None,
        )
        assert _forks(spark, tmp_path, runner.run) == [], task["type"]
    assert (tmp_path / "output" / "out.csv").read_text().count("\n") == 3

    drops = tmp_path / "drops"
    drops.mkdir()
    (drops / "a.csv").write_text("id;qty\n1;10\n2;3\n")
    stream = stream_csv_folder(spark, str(drops), schema="id STRING, qty STRING")
    drain = lambda: run_available_now(  # noqa: E731
        stream, str(tmp_path / "sout"), str(tmp_path / "ckpt")
    )
    assert _forks(spark, tmp_path, drain) == []
    assert spark.read.parquet(str(tmp_path / "sout")).count() == 2


def test_class_path_merge_and_non_local_masters():
    assert _merge_class_path("/a.jar:/b.jar", LOCALFS_JAR, None, "/a.jar") == (
        f"/a.jar:/b.jar:{LOCALFS_JAR}"
    )
    assert _merge_class_path("", None) == ""
    # executors outside the driver JVM lack the jar
    for master in ("yarn", "local-cluster[2,1,1024]", "spark://h:7077", None):
        assert not _localfs_loadable(master)


def test_jvm_started_without_the_jar_keeps_stock_file_system(tmp_path):
    """A plain session launches the JVM first; get_spark then reuses it
    and must not select a class that JVM cannot load."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import SparkSession
        from dasladen_spark.session import get_spark
        s = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
        s.stop()
        spark = get_spark("reused", shuffle_partitions=2)
        spark.range(5).write.parquet({str(tmp_path / "p")!r})
        assert spark.read.parquet({str(tmp_path / "p")!r}).count() == 5
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
        print("FS=" + fs.getClass().getName())
        print("IMPL=" + str(conf.get("fs.file.impl")))
        spark.stop()
        """
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    # stock: Hadoop's FileSystem service loader picks the scheme's class
    assert "IMPL=None" in out.stdout
    assert "FS=dasladen." not in out.stdout


def _jar_javac(jar_path: str) -> str:
    with zipfile.ZipFile(jar_path) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    return next(
        line.split(":", 1)[1].strip()
        for line in manifest.splitlines()
        if line.startswith("Created-By:")
    )


def test_committed_jar_rebuilds_byte_for_byte():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "build_localfs_jar", os.path.join(ROOT, "tools", "build_localfs_jar.py")
    )
    build = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build)
    if not shutil.which("javac") or build.javac_version() != _jar_javac(LOCALFS_JAR):
        pytest.skip(f"needs {_jar_javac(LOCALFS_JAR)} on PATH")
    with zipfile.ZipFile(LOCALFS_JAR) as jar:
        committed = {
            n: hashlib.sha256(jar.read(n)).hexdigest()
            for n in jar.namelist()
            if n.endswith(".class")
        }
    rebuilt = {n: hashlib.sha256(b).hexdigest() for n, b in build.compile_classes().items()}
    assert rebuilt == committed
