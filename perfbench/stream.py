"""``stream`` workload: an open-loop keyed stream through the reference's
continuously-emitting keyed reduce.

Events come from Spark's ``rate`` source (phase A, fixed offered rate,
for latency) and ``rate-micro-batch`` source (phase B, a fixed backlog
drained as fast as the job can, for capacity). Key and value are
closed-form integer functions of the event id (perfbench/gen.py). The
job is ``process_keyed(RunningReduceFunction(...))`` into a
``foreachBatch`` parquet sink; the sink records the wall time each
batch is committed.

An event's scheduled creation time is the rate source's own stamp:
``creation_ms + id * 1000 / rate`` (the source spreads each second's
ids evenly over that second, counted from the creation time it keeps in
``<checkpoint>/sources/0/0``).
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen

OUTPUT_SCHEMA = ("key", "id", "v", "running")


BATCH_PROBES = 1  # host-speed probes at the start of each sink call


class BatchLog:
    """Commit wall time of each micro-batch the sink wrote, and the
    host-speed probe (perfbench/probe.py) the sink took before writing
    it: the job waits on the sink call then, so the probe runs while the
    program is idle, between its batches."""

    def __init__(self, probe):
        self.probe = probe
        self.commits: dict[int, float] = {}
        self.probes: dict[int, list[float]] = {}
        self.lock = threading.Lock()


def build_job(spark, source_df, seed: int):
    from min_flink_spark.streaming.stateful import RunningReduceFunction, process_keyed

    ev = source_df.select(
        F.col("value").alias("id"),
        gen.stream_key(F.col("value"), seed).alias("key"),
        gen.stream_value(F.col("value"), seed).alias("v"),
    )
    fn = RunningReduceFunction("key", "id", "v", op="sum", value_type="bigint")
    return process_keyed(ev, ["key"], fn)


def start_query(spark, job_df, sink_dir: str, ckpt_dir: str, log: BatchLog, nproc: int):
    from min_flink_spark.streaming.runner import shuffle_partitions

    def write_batch(bdf, batch_id: int) -> None:
        probe_s = log.probe.sample(BATCH_PROBES)  # bdf is lazy: nothing runs yet
        bdf.write.mode("overwrite").parquet(os.path.join(sink_dir, f"batch={batch_id}"))
        with log.lock:
            log.commits[batch_id] = time.time()
            log.probes[batch_id] = probe_s

    with shuffle_partitions(spark, nproc):
        return (
            job_df.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt_dir)
            .start()
        )


def rate_source(spark, rate: int, nproc: int):
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .option("numPartitions", nproc)
        .load()
    )


def backlog_source(spark, rows_per_batch: int, nproc: int):
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", nproc)
        .load()
    )


def creation_ms(ckpt_dir: str) -> int:
    """The rate source's creation time, from its metadata log."""
    with open(os.path.join(ckpt_dir, "sources", "0", "0")) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    return int(lines[-1])


def scheduled_ms(ids: np.ndarray, created_ms: int, rate: int) -> np.ndarray:
    """Scheduled creation time (ms) of each event id at ``rate`` events/s."""
    return created_ms + ids * 1000.0 / rate


def read_sink(sink_dir: str) -> dict[int, dict[str, np.ndarray]]:
    """batch id -> output columns of that batch."""
    out = {}
    for d in sorted(os.listdir(sink_dir)):
        if not d.startswith("batch="):
            continue
        path = os.path.join(sink_dir, d)
        files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        if not files:
            out[int(d[6:])] = {c: np.zeros(0, dtype=np.int64) for c in OUTPUT_SCHEMA}
            continue
        t = pq.read_table(files)
        out[int(d[6:])] = {c: t.column(c).to_numpy() for c in OUTPUT_SCHEMA}
    return out


def check_prefix_sums(batches: dict[int, dict[str, np.ndarray]], seed: int) -> list[str]:
    """Every emitted running sum must equal the prefix sum of the
    generated events of its key, with ids 0..n-1 each emitted once."""
    if not batches:
        return ["no batch was committed"]
    ids = np.concatenate([b["id"] for b in batches.values()])
    problems = []
    n = len(ids)
    if n == 0:
        return ["no event was emitted"]
    order = np.argsort(ids, kind="stable")
    ids_sorted = ids[order]
    if not np.array_equal(ids_sorted, np.arange(n)):
        dup = n - len(np.unique(ids))
        problems.append(f"events missing or duplicated: {n} rows, {dup} duplicates, "
                        f"max id {int(ids_sorted[-1])}")
        return problems
    keys = np.concatenate([b["key"] for b in batches.values()])[order]
    vals = np.concatenate([b["v"] for b in batches.values()])[order]
    running = np.concatenate([b["running"] for b in batches.values()])[order]
    exp_keys = gen.stream_key(ids_sorted, seed)
    exp_vals = gen.stream_value(ids_sorted, seed)
    if not (np.array_equal(keys, exp_keys) and np.array_equal(vals, exp_vals)):
        problems.append("key or value differs from the generator")
        return problems
    # prefix sum per key in id order: stable sort by key keeps id order
    by_key = np.argsort(exp_keys, kind="stable")
    k_sorted = exp_keys[by_key]
    csum = np.cumsum(exp_vals[by_key])
    starts = np.r_[0, np.flatnonzero(np.diff(k_sorted)) + 1]
    base = np.repeat(csum[starts] - exp_vals[by_key][starts], np.diff(np.r_[starts, n]))
    expected = np.empty(n, dtype=np.int64)
    expected[by_key] = csum - base
    bad = int((running != expected).sum())
    if bad:
        problems.append(f"{bad} running sums differ from the prefix sums")
    return problems


def batch_latencies(batches, commits: dict[int, float], created_ms: int, rate: int,
                    lo_id: int, hi_id: int) -> np.ndarray:
    """Latency (s) of each event with id in [lo_id, hi_id): the commit
    wall time of its batch minus its scheduled creation time."""
    out = []
    for bid, cols in batches.items():
        ids = cols["id"]
        ids = ids[(ids >= lo_id) & (ids < hi_id)]
        if bid in commits and len(ids):
            out.append(commits[bid] - scheduled_ms(ids, created_ms, rate) / 1000.0)
    return np.concatenate(out) if out else np.zeros(0)
