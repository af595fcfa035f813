"""The JVM running-reduce operator (streaming/RunningReduce.java): parity
with a numpy model, its unsupported combinations, exactly-once output
across a crash and restart, and the cache of its compiled jar."""

import os
import shutil
import subprocess
import sys
import time
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import _parse_datatype_string

from min_flink_spark.streaming import jvm
from min_flink_spark.streaming.runner import run_foreach_batch, stream_parquet
from min_flink_spark.streaming.stateful import (
    _RUNNING_REDUCE_SOURCE,
    KeyedProcessFunction,
    RunningReduceFunction,
    process_keyed,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_batch_files(d: str, tables: list[pa.Table], first: int = 0) -> None:
    """One parquet file per table, with increasing modification times,
    so a file source with maxFilesPerTrigger=1 reads them in list order."""
    os.makedirs(d, exist_ok=True)
    base = time.time() - 1000
    for i, t in enumerate(tables, first):
        path = os.path.join(d, f"part-{i:04d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (base + i, base + i))


REDUCE = {"sum": np.add, "min": np.minimum, "max": np.maximum}


@pytest.mark.parametrize("value_type", ["bigint", "double"])
@pytest.mark.parametrize("op", ["sum", "min", "max"])
def test_running_reduce_matches_numpy_model(spark, tmp_path, op, value_type):
    """sum/min/max over bigint/double across four micro-batches. The key
    column is ``int`` and comes out ``bigint``, as ``output_schema``
    declares. ``event_id`` has many ties inside each batch: tied rows
    keep their arrival order (file order here), which the model encodes
    as a stable argsort."""
    rng = np.random.default_rng(11)
    n_batches, per_batch = 4, 60
    np_type = np.int64 if value_type == "bigint" else np.float64
    perm = rng.permutation(n_batches * per_batch)  # unique values: rows are identifiable
    values = perm.astype(np_type) if value_type == "bigint" else perm / 7.0 - 10.0
    batches = []
    for b in range(n_batches):
        sl = slice(b * per_batch, (b + 1) * per_batch)
        batches.append((
            rng.integers(0, 5, per_batch).astype(np.int32),
            (b * 10 + rng.integers(0, 6, per_batch)).astype(np.int64),
            values[sl].astype(np_type),
        ))
    d = str(tmp_path / "in")
    _write_batch_files(d, [
        pa.table({"user_id": k, "event_id": o, "value": v}) for k, o, v in batches
    ])

    want, acc = {}, {}
    for k, o, v in batches:
        for i in np.argsort(o, kind="stable"):
            kk = int(k[i])
            acc[kk] = v[i] if kk not in acc else REDUCE[op](acc[kk], v[i])
            want[(kk, int(o[i]), v[i].item())] = acc[kk].item()

    fn = RunningReduceFunction("user_id", "event_id", "value", op, value_type=value_type)
    s = stream_parquet(
        spark, d, f"user_id int, event_id bigint, value {value_type}", max_files_per_trigger=1
    )
    out = process_keyed(s, ["user_id"], fn)
    assert out.schema == _parse_datatype_string(fn.output_schema)
    got: dict[int, list] = {}
    run_foreach_batch(
        out, lambda bdf, batch_id: got.update({batch_id: bdf.collect()}),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert sorted(got) == list(range(n_batches))
    rows = [r for b in got.values() for r in b]
    assert len(rows) == len(want)  # one emission per input record
    assert {(r.user_id, r.event_id, r.value): r.running for r in rows} == want


def test_running_reduce_rejects_unsupported_lowerings(spark, tmp_path):
    s = stream_parquet(
        spark, str(tmp_path), "user_id int, event_id bigint, value double, tag string"
    )
    fn = RunningReduceFunction("user_id", "event_id", "value", "sum")
    with pytest.raises(ValueError, match="key_col"):
        process_keyed(s, ["user_id", "event_id"], fn)
    with pytest.raises(ValueError, match="key_col"):
        process_keyed(s, ["event_id"], fn)
    with pytest.raises(ValueError, match="timeout_ms"):
        process_keyed(s, ["user_id"], fn, timeout_ms=1000)
    with pytest.raises(ValueError, match="update mode"):
        process_keyed(s, ["user_id"], fn, output_mode="append")
    with pytest.raises(ValueError, match="integral"):
        process_keyed(s, ["tag"], RunningReduceFunction("tag", "event_id", "value"))
    with pytest.raises(ValueError, match="value_type"):
        RunningReduceFunction("user_id", "event_id", "value", "sum", value_type="int")
    with pytest.raises(ValueError, match="op"):
        RunningReduceFunction("user_id", "event_id", "value", "avg")
    # a plain spec: no pandas path to fall back on
    assert not isinstance(fn, KeyedProcessFunction)
    assert not hasattr(fn, "process_element")


def test_running_reduce_exactly_once_across_crash_and_restart(spark, tmp_path):
    """A foreachBatch sink writes batch 2 and then raises, before the
    batch commits. The restart from the same checkpoint replays batch 2
    from the state snapshot of batch 1, overwrites its output, and
    drains two more files: every id is emitted once and every running
    sum equals the per-key prefix sum (perfbench's closed-form check)."""
    from perfbench import gen
    from perfbench.stream import check_prefix_sums, read_sink

    seed, per_file, fail_at = 5, 300, 2

    def files(lo: int, hi: int) -> list[pa.Table]:
        out = []
        for f in range(lo, hi):
            ids = np.arange(f * per_file, (f + 1) * per_file, dtype=np.int64)
            out.append(pa.table({
                "id": ids,
                "key": gen.stream_key(ids, seed),
                "v": gen.stream_value(ids, seed),
            }))
        return out

    src, sink_dir, ckpt = (str(tmp_path / n) for n in ("src", "sink", "ckpt"))
    _write_batch_files(src, files(0, 4))
    fn = RunningReduceFunction("key", "id", "v", op="sum", value_type="bigint")

    def job():
        s = stream_parquet(spark, src, "id bigint, key bigint, v bigint", max_files_per_trigger=1)
        return process_keyed(s, ["key"], fn)

    delivered = []

    def sink(crash: bool):
        def write(bdf, batch_id):
            delivered.append(batch_id)
            bdf.write.mode("overwrite").parquet(os.path.join(sink_dir, f"batch={batch_id}"))
            if crash and batch_id == fail_at:
                raise RuntimeError("injected sink failure")
        return write

    with pytest.raises(Exception, match="injected sink failure"):
        run_foreach_batch(job(), sink(crash=True), checkpoint_dir=ckpt)
    assert delivered == [0, 1, 2] and sorted(read_sink(sink_dir)) == [0, 1, 2]

    _write_batch_files(src, files(4, 6), first=4)
    run_foreach_batch(job(), sink(crash=False), checkpoint_dir=ckpt)
    assert delivered[3:] == [2, 3, 4, 5]  # batch 2 is replayed, not skipped
    batches = read_sink(sink_dir)
    assert sorted(batches) == list(range(6))
    assert sum(len(b["id"]) for b in batches.values()) == 6 * per_file
    assert check_prefix_sums(batches, seed) == []


def test_running_reduce_jar_cache(tmp_path, monkeypatch):
    """A cold cache compiles the jar, a warm cache does not run javac,
    and an edited source (a new hash) is rebuilt beside the old jar."""
    calls = []
    real_run = subprocess.run

    def counting_run(cmd, *a, **kw):
        calls.append(cmd[0])
        return real_run(cmd, *a, **kw)

    monkeypatch.setattr(jvm.subprocess, "run", counting_run)
    src = str(tmp_path / "RunningReduce.java")
    shutil.copy(_RUNNING_REDUCE_SOURCE, src)
    cache = str(tmp_path / "cache")

    cold = jvm.build_jar(src, cache)
    assert len(calls) == 1 and calls[0].endswith("javac")
    assert "min_flink_spark/streaming/RunningReduce.class" in zipfile.ZipFile(cold).namelist()

    assert jvm.build_jar(src, cache) == cold
    assert len(calls) == 1  # warm: no javac

    with open(src, "a") as f:
        f.write("// edited\n")
    edited = jvm.build_jar(src, cache)
    assert edited != cold and len(calls) == 2
    assert sorted(os.listdir(cache)) == sorted(os.path.basename(p) for p in (cold, edited))


def test_running_reduce_jar_cache_concurrent_cold_builds(tmp_path):
    """More threads than cores compiling into one cold cache all get the same
    complete jar, and no staging directory is left behind."""
    from concurrent.futures import ThreadPoolExecutor

    cache = str(tmp_path / "cache")
    workers = len(os.sched_getaffinity(0)) + 1
    with ThreadPoolExecutor(workers) as pool:
        futures = [
            pool.submit(jvm.build_jar, _RUNNING_REDUCE_SOURCE, cache) for _ in range(workers)
        ]
        jars = {f.result(timeout=300) for f in futures}
    assert len(jars) == 1
    (jar,) = jars
    assert zipfile.ZipFile(jar).testzip() is None
    assert os.listdir(cache) == [os.path.basename(jar)]


def test_running_reduce_without_javac_raises(tmp_path, monkeypatch):
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setattr(jvm.shutil, "which", lambda _name: None)
    with pytest.raises(RuntimeError, match="javac"):
        jvm.build_jar(_RUNNING_REDUCE_SOURCE, str(tmp_path))


def test_get_spark_and_batch_queries_attach_no_jar(sf_dir):
    """The operator's jar is attached only by a plan that uses it: a
    fresh session running a batch registry query has no jar added."""
    code = (
        "import __spark_entry__ as e\n"
        "from min_flink_spark.session import get_spark\n"
        "s = get_spark(cpus=2)\n"
        f"e.queries()['running_reduce_sum'](s, {sf_dir!r}).count()\n"
        "print('JARS=' + s.sparkContext._jsc.sc().listJars().mkString(','))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, cwd=REPO
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "JARS=\n" in proc.stdout, proc.stdout[-2000:]
