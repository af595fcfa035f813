"""Tests of the benchmark's own logic; no Spark session needed.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import ast
import json
import os

import numpy as np
import pytest

from perfbench import gen, probe, stats, stream
from perfbench.trace import Tracer, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = os.path.dirname(HERE)


# -- tail percentile rule ----------------------------------------------------------

@pytest.mark.parametrize("n, q", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert stats.tail_percentile(n) == q
    if q is not None:
        assert round(n * (100 - q) / 100, 6) >= stats.TAIL_MIN_BEYOND


def test_latency_summary_uses_fixed_tail_when_supported():
    vals = list(range(1, 101))  # 100 samples: p90 is supported
    s = stats.latency_summary(vals, 75.0)
    assert s["tail_q"] == 75.0
    assert s["tail"] == pytest.approx(stats.percentile(vals, 75.0))
    assert s["p50"] == pytest.approx(50.5)


def test_latency_summary_lowers_tail_for_small_samples():
    s = stats.latency_summary(list(range(30)), 99.0)
    assert s["tail_q"] == 50.0
    s = stats.latency_summary([3.0, 1.0, 2.0], 99.0)
    assert (s["tail_q"], s["tail"]) == (100.0, 3.0)


# -- stream latency from scheduled creation time -------------------------------

def test_scheduled_time_spreads_ids_over_each_second():
    ids = np.array([0, 1000, 1999, 2000])
    assert stream.scheduled_ms(ids, 5_000, 2000).tolist() == [5000, 5500, 5999.5, 6000]


def test_latency_is_commit_minus_scheduled_creation():
    rate, created = 1000, 1_000_000  # ms
    batches = {
        0: {"id": np.arange(0, 1000)},     # scheduled 1000.0 s .. 1000.999 s
        1: {"id": np.arange(1000, 3000)},  # scheduled 1001.0 s .. 1002.999 s
    }
    commits = {0: 1002.0, 1: 1004.0}
    lat = stream.batch_latencies(batches, commits, created, rate, 500, 2000)
    assert len(lat) == 1500  # only ids in the window [500, 2000)
    assert lat.max() == pytest.approx(1004.0 - 1001.0)  # id 1000, first of batch 1
    assert lat.min() == pytest.approx(1002.0 - 1000.999)  # id 999, last of batch 0
    # an event's latency never depends on when its batch STARTED, only
    # on its own scheduled time: a stalled batch delays every event in it
    late = stream.batch_latencies(batches, {0: 1010.0, 1: 1004.0}, created, rate, 0, 1000)
    assert late.min() == pytest.approx(1010.0 - 1000.999)


def _batches(n, seed, per=250):
    ids = np.arange(n)
    keys = gen.stream_key(ids, seed)
    vals = gen.stream_value(ids, seed)
    running = np.zeros(n, dtype=np.int64)
    acc = {}
    for i in range(n):  # loop reference for the vectorized check
        acc[keys[i]] = acc.get(keys[i], 0) + vals[i]
        running[i] = acc[keys[i]]
    return {b: {"id": ids[s:s + per], "key": keys[s:s + per], "v": vals[s:s + per],
                "running": running[s:s + per]} for b, s in enumerate(range(0, n, per))}


@pytest.mark.parametrize("seed", range(40))
def test_every_seed_uses_every_stream_key_equally(seed):
    keys = gen.stream_key(np.arange(20 * gen.STREAM_KEYS), seed)
    assert np.array_equal(np.bincount(keys, minlength=gen.STREAM_KEYS),
                          np.full(gen.STREAM_KEYS, 20))


def test_prefix_sum_check_accepts_correct_output():
    assert stream.check_prefix_sums(_batches(3000, 5), 5) == []


def test_prefix_sum_check_catches_wrong_missing_and_duplicated_events():
    b = _batches(3000, 5)
    b[3]["running"] = b[3]["running"].copy()
    b[3]["running"][7] += 1
    assert "1 running sums differ" in stream.check_prefix_sums(b, 5)[0]
    b = _batches(3000, 5)
    b[2] = {k: v[1:] for k, v in b[2].items()}
    assert "missing or duplicated" in stream.check_prefix_sums(b, 5)[0]
    b = _batches(3000, 5)
    b[99] = b[1]
    assert "3250 rows, 250 duplicates" in stream.check_prefix_sums(b, 5)[0]


# -- host-speed probe ----------------------------------------------------------------

def test_scale_takes_times_to_the_reference_speed():
    ref = probe.PROBE_REF_S
    assert probe.scale([ref]) == pytest.approx(1.0)
    # a host twice as slow (probes take twice as long): times halve
    assert probe.scale([2 * ref]) == pytest.approx(0.5)
    # a phase's probes count by their median: one stray probe does not move it
    assert probe.scale([ref, ref, 9 * ref]) == pytest.approx(1.0)


def test_probe_keeps_every_sample():
    p = probe.Probe()
    xs = p.sample(2)
    xs += p.sample()
    assert p.samples == xs and len(xs) == 3 and min(xs) > 0


# -- spans -------------------------------------------------------------------------

def test_self_time_subtracts_merged_children():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]) == pytest.approx(6.0)
    # parts of a child outside the parent's interval do not count
    assert self_time(0.0, 10.0, [(-5.0, 1.0), (9.0, 20.0)]) == pytest.approx(8.0)


def test_tracer_records_parent_and_self_time():
    tr = Tracer(True, "olap", "r1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.finish(4)
    inner, outer = tr.spans  # a span is recorded when it ends
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["self_s"] == pytest.approx(outer["wall_s"] - inner["wall_s"])
    assert {s["workload"] for s in tr.spans} == {"olap"}


def test_disabled_tracer_runs_calls_unchanged():
    tr = Tracer(False, "olap", "r1")
    with tr.span("x") as rec:
        assert rec is None
    assert tr.stage("y", lambda: 42) == 42
    assert tr.spans == []


# -- failure counting ------------------------------------------------------------

def test_ops_count_failures_with_causes():
    ops = stats.Ops()
    assert ops.record([], "q1")
    assert not ops.record(["3 rows, oracle 4"], "q2")
    assert (ops.attempted, ops.failed, ops.failed_frac) == (2, 1, 0.5)
    assert ops.causes == ["q2: 3 rows, oracle 4"]
    line = json.loads(stats.result_line(ops, {"setup_s": (1.5, "s")}))
    assert line == {"correct": False, "attempted": 2, "failed": 1,
                    "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}


def test_no_operation_attempted_is_not_correct():
    line = json.loads(stats.result_line(stats.Ops(), {}))
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 1, 1)


# -- timed actions are plain statements --------------------------------------------

def test_no_assert_statements_in_benchmark_code():
    """``python -O`` strips asserts: a timed call written as ``assert
    df.collect() is not None`` would leave an empty timing loop."""
    for name in sorted(os.listdir(PKG)):
        if not name.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(PKG, name)).read())
        asserts = [n.lineno for n in ast.walk(tree) if isinstance(n, ast.Assert)]
        assert asserts == [], f"{name} has assert statements at lines {asserts}"


# -- generators ----------------------------------------------------------------------

def test_generators_are_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    for seed_dir, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.make_olap_tables(str(tmp_path / seed_dir), seed, sf=0.001)
        gen.make_corpus(str(tmp_path / seed_dir), seed, n_docs=40)
    for t in ("lineitem", "events", "documents", "embeddings"):
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))


def test_corpus_plants_exact_embedding_copies(tmp_path):
    import pyarrow.parquet as pq

    planted = gen.make_corpus(str(tmp_path), 1, n_docs=40)
    emb = pq.read_table(tmp_path / "embeddings.parquet").to_pandas()
    copies = emb[emb.vec_id >= gen.EMB_COPY_OFFSET]
    assert len(copies) == planted["vec_copies"] > 0
    by_id = dict(zip(emb.vec_id, emb.embedding))
    for vid, vec in zip(copies.vec_id, copies.embedding):
        assert np.array_equal(vec, by_id[vid - gen.EMB_COPY_OFFSET])
