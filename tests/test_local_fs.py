"""The local file system ``get_spark`` registers
(core/NioLocalFileSystem.java): a stream forks no ``chmod``/``readlink``
per batch, every answer matches Hadoop's stock local file system in the
same JVM, and ``get_spark`` never registers a class its JVM cannot load."""

import os
import shutil
import subprocess
import sys
import textwrap

import numpy as np
import pyarrow as pa
import pytest
from py4j.protocol import Py4JJavaError

from test_running_reduce_operator import REPO, _write_batch_files

NIO = "min_flink_spark.core.NioLocalFileSystem"


def _run_python(code: str, **kw) -> subprocess.CompletedProcess:
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True, text=True, timeout=600, cwd=REPO, **kw,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc


def test_stream_batches_fork_no_file_tools(tmp_path):
    """A checkpointed 3-batch running reduce into a parquet sink runs no
    chmod/readlink/stat/ls on its checkpoint or sink files. Shims first on
    PATH log every call; Hadoop's stock local file system makes 100+."""
    from perfbench import gen
    from perfbench.stream import check_prefix_sums, read_sink

    shims, log = tmp_path / "bin", tmp_path / "calls.log"
    shims.mkdir()
    for tool in ("chmod", "readlink", "stat", "ls"):
        shim = shims / tool
        shim.write_text(f'#!/bin/sh\necho "{tool} $*" >> {log}\nexec {shutil.which(tool)} "$@"\n')
        shim.chmod(0o755)

    seed, per_file = 3, 200
    src, sink, ckpt, control = (str(tmp_path / n) for n in ("src", "sink", "ckpt", "control"))
    tables = []
    for f in range(3):
        ids = np.arange(f * per_file, (f + 1) * per_file, dtype=np.int64)
        tables.append(pa.table({
            "id": ids, "key": gen.stream_key(ids, seed), "v": gen.stream_value(ids, seed),
        }))
    _write_batch_files(src, tables)
    _run_python(f"""
        from min_flink_spark.session import get_spark
        from min_flink_spark.streaming.runner import run_foreach_batch, stream_parquet
        from min_flink_spark.streaming.stateful import RunningReduceFunction, process_keyed

        spark = get_spark(cpus=2)
        s = stream_parquet(spark, {src!r}, "id bigint, key bigint, v bigint",
                           max_files_per_trigger=1)
        fn = RunningReduceFunction("key", "id", "v", value_type="bigint")
        out = process_keyed(s, ["key"], fn)
        run_foreach_batch(
            out,
            lambda bdf, b: bdf.write.mode("overwrite").parquet({sink!r} + f"/batch={{b}}"),
            checkpoint_dir={ckpt!r},
        )
        # control: the JVM resolves the shims (Hadoop's own readlink helper)
        jvm = spark.sparkContext._jvm
        jvm.org.apache.hadoop.fs.FileUtil.readLink(jvm.java.io.File({control!r}))
        spark.stop()
    """, env=dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}"))

    batches = read_sink(sink)
    assert sorted(batches) == [0, 1, 2]
    assert check_prefix_sums(batches, seed) == []
    calls = log.read_text().splitlines()
    assert f"readlink {control}" in calls
    assert [c for c in calls if ckpt in c or sink in c] == []


# -- parity with Hadoop's stock local file system, in one JVM ---------------------


@pytest.fixture(scope="module")
def jvm(spark):
    return spark.sparkContext._jvm


def _file_systems(jvm, stock="org.apache.hadoop.fs.LocalFileSystem"):
    """(label, FileSystem, FileContext) for a stock local FS and ours, each a
    fresh uncached instance over a Configuration of its own."""
    uri = jvm.java.net.URI("file:///")
    out = []
    for label, fs_impl, afs_impl in (("stock", stock, "org.apache.hadoop.fs.local.LocalFs"),
                                     ("nio", NIO, NIO + "$Fs")):
        conf = jvm.org.apache.hadoop.conf.Configuration()
        conf.set("fs.file.impl", fs_impl)
        conf.set("fs.AbstractFileSystem.file.impl", afs_impl)
        fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
        assert fs.getClass().getName() == fs_impl
        assert fc.getDefaultFileSystem().getClass().getName() == afs_impl
        out.append((label, fs, fc))
    return out


def _java_error(call) -> str:
    with pytest.raises(Py4JJavaError) as e:
        call()
    return e.value.java_exception.getClass().getName()


def _modes(root: str) -> dict[str, int]:
    out = {}
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(d, name)
            out[os.path.relpath(path, root)] = os.stat(path).st_mode & 0o7777
    return out


def test_permissions_match_stock(jvm, tmp_path):
    """Mode bits of files (and their .crc sidecars) and directories, with the
    default umask and with explicit modes, sticky bit included."""
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission.valueOf
    modes = {}
    for label, fs, _fc in _file_systems(jvm):
        root = str(tmp_path / label)
        P = lambda name: jvm.org.apache.hadoop.fs.Path(os.path.join(root, name))  # noqa: E731
        fs.create(P("default/f")).close()
        fs.create(P("f600"), perm("-rw-------"), True, 4096, 1, 1 << 20, None).close()
        fs.mkdirs(P("dir_default"))
        fs.mkdirs(P("d750"), perm("-rwxr-x---"))
        fs.mkdirs(P("d1777"), perm("-rwxrwxrwt"))
        fs.setPermission(P("f600"), perm("-rw-r-----"))
        modes[label] = _modes(root)
    assert modes["nio"] == modes["stock"]
    assert modes["nio"]["f600"] == 0o640 and modes["nio"]["d750"] == 0o750
    assert modes["nio"]["default/.f.crc"] == modes["nio"]["default/f"]


def test_link_status_matches_stock(jvm, tmp_path):
    """getFileLinkStatus on a file, a symlink (bare and qualified path), a
    dangling symlink, and a missing path, through FileSystem and FileContext."""
    target = tmp_path / "target"
    target.write_text("x" * 10)
    os.symlink(target, tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    paths = [str(target), str(tmp_path / "link"), "file:" + str(tmp_path / "link"),
             str(tmp_path / "dangling")]
    missing = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing"))

    def describe(st):
        link = st.getSymlink().toString() if st.isSymlink() else None
        return (st.toString(), st.isSymlink(), link, st.getPermission().toString(),
                st.getLen(), st.getPath().toString())

    seen = {}
    for label, fs, fc in _file_systems(jvm):
        seen[label] = [describe(get(jvm.org.apache.hadoop.fs.Path(p)))
                       for get in (fs.getFileLinkStatus, fc.getFileLinkStatus) for p in paths]
        for get in (fs.getFileLinkStatus, fc.getFileLinkStatus):
            assert _java_error(lambda: get(missing)) == "java.io.FileNotFoundException"
    assert seen["nio"] == seen["stock"]
    link, qualified = seen["nio"][1], seen["nio"][2]
    assert link[1] and link[2] == "file:" + str(target)
    assert not qualified[1]  # Hadoop never resolves a qualified path's link


def test_checksums_match_stock(jvm, tmp_path):
    """Both write .crc sidecars (FileSystem and FileContext), and a flipped
    byte raises ChecksumException on read."""
    hfs = jvm.org.apache.hadoop.fs
    create = jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE)
    no_opts = jvm.java.lang.reflect.Array.newInstance(
        getattr(hfs, "Options$CreateOpts")._java_lang_class, 0)
    read_all = jvm.org.apache.commons.io.IOUtils.toByteArray
    for label, fs, fc in _file_systems(jvm):
        for how in ("fs", "fc"):
            path = tmp_path / label / how / "data"
            path.parent.mkdir(parents=True)  # FileContext.create makes no parent
            p = hfs.Path(str(path))
            out = fs.create(p) if how == "fs" else fc.create(p, create, no_opts)
            out.write(b"0123456789" * 100)
            out.close()
            assert (path.parent / ".data.crc").exists(), (label, how)
            raw = bytearray(path.read_bytes())
            raw[500] ^= 0xFF
            path.write_bytes(bytes(raw))
            # FileContext.open(path) skips ChecksumFs (FilterFs delegates the
            # one-argument open), in Hadoop's LocalFs too; open(path, size) checks
            stream = fs.open(p) if how == "fs" else fc.open(p, 4096)
            assert _java_error(lambda: read_all(stream)) == (
                "org.apache.hadoop.fs.ChecksumException"), (label, how)
            stream.close()


def test_rename_onto_an_existing_file_matches_stock(jvm, tmp_path):
    """FileContext.rename without OVERWRITE raises FileAlreadyExistsException
    (the checkpoint's atomic no-overwrite rename), and FileSystem.rename
    returns false, as Hive's ProxyLocalFileSystem (the file: FS that Spark's
    jars register) does. Neither touches the destination."""
    hfs = jvm.org.apache.hadoop.fs
    none = jvm.java.lang.reflect.Array.newInstance(
        getattr(hfs, "Options$Rename")._java_lang_class, 0)
    proxy = "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
    for label, fs, fc in _file_systems(jvm, stock=proxy):
        d = tmp_path / label
        d.mkdir()
        for name in ("src", "dst"):
            (d / name).write_text(name)
        src, dst = (hfs.Path("file:" + str(d / n)) for n in ("src", "dst"))
        assert _java_error(lambda: fc.rename(src, dst, none)) == (
            "org.apache.hadoop.fs.FileAlreadyExistsException"), label
        assert not fs.rename(src, dst), label
        assert (d / "dst").read_text() == "dst" and (d / "src").read_text() == "src"


# -- get_spark never leaves fs.file.impl dangling ---------------------------------


def test_get_spark_merges_class_path_and_keeps_fs_across_restart(tmp_path):
    """A caller's driver class path is merged with the FS jar, not replaced,
    and a session stopped and re-created in the same process (perfbench's
    local[1] baseline) keeps the FS."""
    out = str(tmp_path / "out")
    _run_python(f"""
        from min_flink_spark.session import get_spark
        from min_flink_spark.streaming import jvm
        from min_flink_spark.streaming.stateful import _RUNNING_REDUCE_SOURCE

        def fs_class(s):
            conf = s.sparkContext._jsc.hadoopConfiguration()
            return s.sparkContext._jvm.org.apache.hadoop.fs.Path("file:///").getFileSystem(
                conf).getClass().getName()

        s = get_spark(cpus=2, extra_conf={{
            "spark.driver.extraClassPath": jvm.build_jar(_RUNNING_REDUCE_SOURCE)}})
        loadable = s.sparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable
        assert loadable("min_flink_spark.streaming.RunningReduce")  # the caller's entry
        assert fs_class(s) == {NIO!r}
        s.stop()

        s = get_spark(cpus=1)
        assert s.sparkContext.getConf().get("spark.hadoop.fs.file.impl") == {NIO!r}
        assert fs_class(s) == {NIO!r}
        s.range(10).write.parquet({out!r})
        assert s.read.parquet({out!r}).count() == 10
    """)


def test_get_spark_on_a_foreign_jvm_keeps_hadoop_default(tmp_path):
    """A JVM launched without the FS jar (a session built elsewhere, active or
    stopped) keeps Hadoop's default FS: registering a class it cannot load
    would fail every file operation with ClassNotFoundException."""
    out = str(tmp_path / "out")
    _run_python(f"""
        from pyspark.sql import SparkSession
        from min_flink_spark.session import get_spark

        foreign = SparkSession.builder.master("local[1]").getOrCreate()
        assert get_spark(cpus=1) is foreign
        foreign.range(10).write.parquet({out!r} + "/active")
        foreign.stop()

        s = get_spark(cpus=1)
        assert not s.sparkContext.getConf().contains("spark.hadoop.fs.file.impl")
        s.range(10).write.parquet({out!r} + "/restarted")
        assert s.read.parquet({out!r} + "/restarted").count() == 10
    """)


def test_get_spark_under_spark_submit_keeps_hadoop_default(tmp_path):
    """Under spark-submit the JVM is up before the script runs (the gateway
    port is handed over in PYSPARK_GATEWAY_PORT) and has no FS jar."""
    script, out = tmp_path / "job.py", str(tmp_path / "out")
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from min_flink_spark.session import get_spark

        s = get_spark(cpus=1)
        assert not s.sparkContext.getConf().contains("spark.hadoop.fs.file.impl")
        s.range(10).write.parquet({out!r})
        assert s.read.parquet({out!r}).count() == 10
    """))
    proc = subprocess.run(
        [shutil.which("spark-submit") or "spark-submit", "--master", "local[1]", str(script)],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
