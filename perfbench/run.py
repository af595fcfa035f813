"""Benchmark entry point.

    python3 perfbench/run.py --workload {olap,stream} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/``; every output is checked; the last stdout
line is the JSON result. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics and writes the spans to
``.perfbench_work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

WORKLOADS = ("olap", "stream")
OLAP_MIN_PASSES = 5  # 40 samples: the p75 tail has 10 beyond it
TAIL_Q = {"olap": 75.0, "stream": 99.0}
REQUIRED = ("min_flink_spark/__init__.py", "tools/check_oracle.py")
HERE = os.path.dirname(os.path.abspath(__file__))

# stream phase settings (why: perfbench/README.md)
STREAM_RATE = 500           # phase A offered rate, events/s
STREAM_WARM_S = 3.0         # phase A events scheduled before this are not sampled
STREAM_BACKLOG_BATCH = 15000  # phase B rows per micro-batch
STREAM_BACKLOG_BATCHES = 8  # phase B backlog = batches x rows per batch
SETUP_PROBES = 5            # host-speed probes before and after set-up


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Context:
    def __init__(self, args, work, nproc, spark, tracer, ops, stderr, probe):
        self.args, self.work, self.nproc = args, work, nproc
        self.spark, self.tracer, self.ops, self.stderr = spark, tracer, ops, stderr
        self.probe = probe
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}
        self.samples: dict[str, object] = {}


# -- olap: the query loop; traced runs add the curation pipeline -----------------

def curation_job(ctx: Context) -> tuple[float, float, dict]:
    """One run of the curation pipeline, stage by stage under spans.
    Returns (corpus generation s, job s, result)."""
    from perfbench import curation, gen
    from perfbench.harness import timed

    data = ctx.work.path("corpus")
    gen_s = statistics.median(timed(gen.make_corpus, data, ctx.args.seed)[0] for _ in range(3))
    planted = gen.make_corpus(data, ctx.args.seed)
    out_dir = ctx.work.path("curated")
    with ctx.tracer.span("curation.job"):
        job_s, res = timed(curation.run_chain, ctx.spark, data, out_dir, ctx.tracer)
    digest = curation.read_output(out_dir, res)
    ctx.ops.record(curation.check_job(res, planted, digest, ctx.args.seed), "curation job")
    ctx.spark.catalog.clearCache()
    ctx.notes.append(f"curation: job {job_s:.2f} s, counts {res['counts']}, digest {digest}")
    return gen_s, job_s, res


def olap_loop(ctx: Context) -> tuple[float, dict]:
    """Closed loop, one client: whole passes over the query set, each in
    a seeded shuffled order, until ``--seconds`` have elapsed and at
    least OLAP_MIN_PASSES ran. Returns (setup s, result)."""
    from perfbench import gen, olap
    from perfbench.harness import timed
    from perfbench.probe import scale

    data = ctx.work.path("olap")
    gen_s = statistics.median(timed(gen.make_olap_tables, data, ctx.args.seed)[0] for _ in range(3))
    oracle_s, oracle = timed(olap.oracle_digests, data)
    t0 = time.perf_counter()
    n_spans = len(ctx.tracer.spans)
    for name in olap.QUERY_NAMES:  # warmup pass, results checked too
        _, cols, rows = olap.run_query(ctx.spark, data, name, ctx.tracer)
        ctx.ops.record(olap.check_result(name, cols, rows, oracle), f"warmup {name}")
    warm_s = time.perf_counter() - t0
    del ctx.tracer.spans[n_spans:]  # the trace describes the measured loop

    rng = random.Random(ctx.args.seed)
    results = []
    setup_probe = ctx.probe.sample(SETUP_PROBES)  # the end of set-up
    probe_s = []
    t_start = time.perf_counter()
    passes = 0
    while passes < OLAP_MIN_PASSES or time.perf_counter() - t_start < ctx.args.seconds:
        passes += 1
        order = list(olap.QUERY_NAMES)
        rng.shuffle(order)
        for name in order:
            total_s, cols, rows = olap.run_query(ctx.spark, data, name, ctx.tracer)
            probe_s += ctx.probe.sample()
            results.append((name, total_s, cols, rows))
    elapsed = time.perf_counter() - t_start
    for name, _, cols, rows in results:
        ctx.ops.record(olap.check_result(name, cols, rows, oracle), name)
    ctx.samples["olap"] = [(r[0], r[1]) for r in results]
    ctx.notes.append(f"olap: {len(results)} queries in {elapsed:.2f} s; gen {gen_s:.2f} + "
                     f"oracle {oracle_s:.2f} + warmup pass {warm_s:.2f} s")
    lat = [r[1] for r in results]
    return gen_s + oracle_s + warm_s, {
        # closed loop, one client: queries/s = 1 / mean latency
        "throughput": len(lat) / sum(lat),
        "latencies": lat,
        "scale": scale(probe_s),  # one probe after each query
        "setup_probe": setup_probe,
    }


def run_olap(ctx: Context, session_s: float) -> dict:
    gen_s, res = olap_loop(ctx)
    res["setup_s"] = session_s + gen_s
    ctx.notes.append(f"setup = session {session_s:.2f} + olap set-up {gen_s:.2f} s")
    if ctx.tracer.enabled:
        _, _, res["extra"] = curation_job(ctx)
    return res


def olap_layers(ctx: Context, extra: dict | None) -> None:
    from perfbench.curation import STAGES

    tr = ctx.tracer
    ex = "queries.execute"
    ctx.layer.update({
        "queries.build.wall_s": tr.median("queries.build", "wall_s"),
        "olap.query.self_s": tr.median("olap.query", "self_s"),
        "sources.input_bytes": tr.median(ex, "input_bytes"),
        "sources.scan_task_cpu_s": tr.median(ex, "scan_task_cpu_s"),
    })
    for k in ("wall_s", "jobs", "tasks", "task_cpu_s", "busy_frac", "shuffle_bytes",
              "spill_bytes"):
        ctx.layer[f"{ex}.{k}"] = tr.median(ex, k)
    for s in STAGES:
        for k in ("wall_s", "jobs", "task_cpu_s", "busy_frac", "shuffle_bytes"):
            ctx.layer[f"{s}.{k}"] = tr.median(s, k)
    ctx.layer["curation.spill_bytes"] = float(sum(
        sp.get("spill_bytes", 0) for sp in tr.spans if sp["name"] in STAGES))
    ctx.layer["operators.dedup.lsh_useful_ratio"] = (extra or {}).get("lsh_useful_ratio", 0.0)
    ctx.layer["curation.job.wall_s"] = tr.median("curation.job", "wall_s")


# -- stream ----------------------------------------------------------------------

def _await(pred, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(0.02)
    return pred()


def _stop_query(ctx: Context, q, label: str, log_start: int) -> None:
    """Stop a query and classify what it logged since ``log_start``:
    errors before the stop request count as failed batches, errors after
    it as teardown noise. Both are reported; neither is dropped."""
    before = ctx.stderr.error_lines(log_start, ctx.stderr.offset())
    failed_exc = q.exception() if not q.isActive else None
    mark = ctx.stderr.offset()
    q.stop()
    noise = ctx.stderr.error_lines(mark)
    problems = []
    if failed_exc is not None:
        problems.append(f"query died before stop: {str(failed_exc)[:300]}")
    if before:
        problems.append(f"{len(before)} error line(s) while running, first: {before[0][:200]}")
    ctx.ops.record(problems, f"{label} query")
    ctx.layer["streaming.teardown_noise_lines"] = (
        ctx.layer.get("streaming.teardown_noise_lines", 0.0) + len(noise))
    if noise:
        ctx.notes.append(f"{label}: {len(noise)} error line(s) logged after stop "
                         f"(teardown noise, not a failed batch), first: {noise[0][:160]}")


def drain_backlog(ctx: Context, label: str) -> tuple[float, float, float, list]:
    """Phase B: drain a fixed backlog from a standing start. Returns
    (events/s, its factor to the reference host speed, the first
    commit's wall time, the probes of the first batch)."""
    from min_flink_spark.streaming.metrics import record_metrics, stop_recording
    from perfbench import stream as S
    from perfbench.probe import scale

    spark, seed = ctx.spark, ctx.args.seed
    log = S.BatchLog(ctx.probe)
    sink, ckpt = ctx.work.path(label, "sink"), ctx.work.path(label, "ckpt")
    rec = record_metrics(spark)
    log_start = ctx.stderr.offset()
    q = S.start_query(spark, S.build_job(spark, S.backlog_source(
        spark, STREAM_BACKLOG_BATCH, ctx.nproc), seed), sink, ckpt, log, ctx.nproc)
    done = _await(lambda: len(log.commits) >= STREAM_BACKLOG_BATCHES or not q.isActive, 150)
    _stop_query(ctx, q, label, log_start)
    stop_recording(spark, rec)
    commits = sorted(log.commits.items())
    ctx.samples[label] = [(b, t, log.probes[b]) for b, t in commits]
    problems = [] if done and len(commits) >= 3 else [f"only {len(commits)} batches committed"]
    problems += S.check_prefix_sums(S.read_sink(sink), seed)
    ctx.ops.record(problems, f"{label} output")
    if len(commits) < 3:
        return 0.0, 1.0, time.time(), ctx.probe.sample(SETUP_PROBES)  # failure recorded
    # batch 0 carries query start-up; capacity is the median spacing
    # of the later commits
    gaps = [b[1] - a[1] for a, b in zip(commits[1:], commits[2:])]
    eps = STREAM_BACKLOG_BATCH / statistics.median(gaps)
    later = [p for b, _ in commits[1:] for p in log.probes[b]]
    return eps, scale(later), commits[0][1], log.probes[commits[0][0]]


def run_stream(ctx: Context, session_s: float) -> dict:
    from min_flink_spark.streaming.metrics import record_metrics, stop_recording
    from perfbench import stream as S
    from perfbench.probe import scale

    spark, seed = ctx.spark, ctx.args.seed
    t0 = time.time()
    eps, eps_scale, first_commit, first_probe = drain_backlog(ctx, "drain")
    first_s = first_commit - t0

    # phase A: fixed offered rate; sample events scheduled in the window
    window = max(ctx.args.seconds - STREAM_WARM_S, 2.0)
    log = S.BatchLog(ctx.probe)
    sink, ckpt = ctx.work.path("rate", "sink"), ctx.work.path("rate", "ckpt")
    rec = record_metrics(spark)
    log_start = ctx.stderr.offset()
    q = S.start_query(spark, S.build_job(spark, S.rate_source(spark, STREAM_RATE, ctx.nproc),
                                         seed), sink, ckpt, log, ctx.nproc)
    _await(lambda: os.path.exists(os.path.join(ckpt, "sources", "0", "0")), 60)
    created = S.creation_ms(ckpt)
    lo_id = int(STREAM_WARM_S * STREAM_RATE)
    hi_id = int((STREAM_WARM_S + window) * STREAM_RATE)

    # the source's offset is whole seconds since creation: a batch whose
    # end offset covers hi_id has read every window event
    need_s = -(-hi_id // STREAM_RATE)

    def window_committed() -> bool:
        return any(int(str(p["sources"][0]["endOffset"])) >= need_s
                   for p in list(rec.progress) if p.get("sources"))

    _await(lambda: window_committed() or not q.isActive, window + STREAM_WARM_S + 60)
    _stop_query(ctx, q, "rate", log_start)
    stop_recording(spark, rec)
    batches = S.read_sink(sink)
    problems = S.check_prefix_sums(batches, seed)
    lat_all = S.batch_latencies(batches, log.commits, created, STREAM_RATE, lo_id, hi_id)
    ctx.samples["rate"] = {"created": created, "probes": sorted(log.probes.items()),
                           "commits": sorted(log.commits.items())}
    if len(lat_all) < hi_id - lo_id:
        problems.append(f"{hi_id - lo_id - len(lat_all)} window events not committed")
    ctx.ops.record(problems, "rate output")
    ctx.ops.attempted += max(len(batches) - 1, 0)  # each micro-batch is an operation
    _stream_progress_layers(ctx, rec.progress, log, created)
    ctx.notes.append(f"stream: drain {eps:.0f} events/s; rate {STREAM_RATE}/s, "
                     f"{len(lat_all)} window events over {len(batches)} batches; "
                     f"setup = session {session_s:.2f} + first drain batch {first_s:.2f} s")
    return {
        "setup_s": session_s + first_s,
        "setup_probe": first_probe,
        "throughput": eps,
        "throughput_scale": eps_scale,
        "latencies": list(lat_all) if len(lat_all) else [0.0],  # failure recorded above
        "scale": scale([p for ps in log.probes.values() for p in ps]) if log.probes else 1.0,
    }


def _stream_progress_layers(ctx: Context, progress: list, log, created: int) -> None:
    """Per-batch runner and state-store counters from the listener, as
    medians over the data-carrying batches; one span per batch."""
    rows = [p for p in progress if int(p.get("numInputRows", 0)) > 0]

    def med(vals):
        vals = [v for v in vals if v is not None]
        return float(statistics.median(vals)) if vals else 0.0

    d = [p.get("durationMs", {}) for p in rows]
    st = [(p.get("stateOperators") or [{}])[0] for p in rows]
    ctx.layer.update({
        "streaming.batch.trigger_ms": med(x.get("triggerExecution") for x in d),
        "streaming.batch.add_batch_ms": med(x.get("addBatch") for x in d),
        "streaming.batch.planning_ms": med(x.get("queryPlanning") for x in d),
        "streaming.batch.wal_commit_ms": med(x.get("walCommit") for x in d),
        "streaming.batch.commit_offsets_ms": med(x.get("commitOffsets") for x in d),
        "streaming.batch.rows": med(int(p["numInputRows"]) for p in rows),
        "streaming.state.updates_ms": med(s.get("allUpdatesTimeMs") for s in st),
        "streaming.state.commit_ms": med(s.get("commitTimeMs") for s in st),
        "streaming.state.rows_total": med(s.get("numRowsTotal") for s in st),
        "streaming.state.memory_bytes": med(s.get("memoryUsedBytes") for s in st),
    })
    # backlog at each commit: events scheduled by then minus events done
    backlog = []
    done = 0
    for p in sorted(rows, key=lambda p: p["batchId"]):
        done += int(p["numInputRows"])
        t = log.commits.get(p["batchId"])
        if t is not None:
            backlog.append((t * 1000.0 - created) * STREAM_RATE / 1000.0 - done)
    ctx.layer["streaming.source.backlog_rows"] = med(backlog)
    if ctx.tracer.enabled:
        # one span per data batch, ending at its sink commit, on the
        # tracer's perf_counter clock
        shift = time.perf_counter() - time.time()
        for p, x, s in zip(rows, d, st):
            end = log.commits.get(p["batchId"])
            if end is None:
                continue
            ctx.tracer.spans.append({
                "id": f"batch-{p['batchId']}", "name": "streaming.batch", "parent": None,
                "workload": ctx.tracer.workload, "run_id": ctx.tracer.run_id,
                "start": end + shift - x.get("triggerExecution", 0) / 1000.0,
                "end": end + shift, "rows": int(p["numInputRows"]),
                "duration_ms": x, "state": s,
            })


def stream_single_core(ctx: Context, eps: float) -> None:
    """Phase B again on a ``local[1]`` session: the single-core baseline."""
    from perfbench.harness import start_spark

    ctx.spark.stop()
    ctx.spark = start_spark(ctx.work, ctx.nproc, cpus=1)
    saved = ctx.nproc
    ctx.nproc = 1
    try:
        eps1 = drain_backlog(ctx, "drain1")[0]
    finally:
        ctx.nproc = saved
    ctx.layer["streaming.drain_scaling"] = eps / eps1 if eps1 else 0.0
    ctx.notes.append(f"stream: single-core drain {eps1:.0f} events/s")


# -- metrics -------------------------------------------------------------------

def metrics_of(res: dict, rss_mb: float, probe, workload: str) -> tuple[dict, dict]:
    """(end-to-end metrics, wall-clock figures). The end-to-end times are
    at the reference host speed: each phase's raw times are scaled by
    the probes taken in that phase (perfbench/probe.py). The raw
    wall-clock figures are printed too and travel as per-layer metrics."""
    from perfbench.probe import scale
    from perfbench.stats import latency_summary

    f = res["scale"]
    q = TAIL_Q[workload]
    raw = latency_summary(res["latencies"], q)
    ref = latency_summary([t * f for t in res["latencies"]], q)
    res["lat"] = ref
    e2e = {
        "setup_s": (res["setup_s"] * scale(res["start_probe"] + res["setup_probe"]), "s"),
        "ref_throughput_per_s": (res["throughput"] / res.get("throughput_scale", f), "1/s"),
        "ref_latency_p50_s": (ref["p50"], "s"),
        "ref_latency_tail_s": (ref["tail"], "s"),
    }
    wall = {
        "setup_wall_s": (res["setup_s"], "s"),
        "throughput_per_s": (res["throughput"], "1/s"),
        "latency_p50_s": (raw["p50"], "s"),
        "latency_tail_s": (raw["tail"], "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "host.probe_ms": (statistics.median(probe.samples) * 1000.0, "ms"),
    }
    return e2e, wall


WORKLOAD_NAMES = {
    "olap": {"throughput_per_s": ("olap_qps", "queries/s"),
             "latency_p50_s": ("olap_latency_p50_s", "s"),
             "latency_tail_s": ("olap_latency_tail_s", "s")},
    "stream": {"latency_p50_s": ("stream_latency_p50_s", "s"),
               "latency_tail_s": ("stream_latency_tail_s", "s"),
               "throughput_per_s": ("stream_drain_eps", "events/s")},
}


def print_report(workload: str, e2e: dict, wall: dict, lat: dict, ops) -> None:
    """Human-readable lines: every metric under its workload name too."""
    names = WORKLOAD_NAMES[workload]
    for k, (v, unit) in {**e2e, **wall}.items():
        alias = names.get(k[4:] if k.startswith("ref_") else k)
        extra = ""
        if alias:
            extra = f"  ({alias[0]}, {alias[1]}{', at the reference speed' if k in e2e else ''})"
        print(f"{k:22s} = {v:.6g} {unit}{extra}")
    print(f"{'ops_failed_frac':22s} = {ops.failed_frac:.6g} fraction "
          f"({ops.failed}/{ops.attempted})")
    print(f"latency samples n={lat['n']}, tail percentile p{lat['tail_q']:g}")
    for c in ops.causes:
        print(f"FAILED {c}")


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {', '.join(missing)}",
              file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path[:0] = [root]
    nproc = len(os.sched_getaffinity(0))

    from perfbench.harness import (
        DRIVER_MEM,
        RssSampler,
        StderrCapture,
        Workdir,
        start_spark,
        stop_spark,
        timed,
    )
    from perfbench.probe import Probe
    from perfbench.stats import Ops, result_line
    from perfbench.trace import Tracer

    work = Workdir(root)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_STREAM_STATE_PARTITIONS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": work.path("spark-local"),
        "TMPDIR": work.path("tmp"),
    })
    import tempfile

    tempfile.tempdir = work.path("tmp")
    stderr = StderrCapture(work.path("stderr.log"))
    rss = RssSampler()
    run_id = f"{args.workload}-s{args.seed}-{int(time.time())}"
    tracer = Tracer(bool(args.trace), args.workload, run_id)
    ops = Ops()
    ok = False
    ctx = None
    try:
        probe = Probe()
        start_probe = probe.sample(SETUP_PROBES)
        session_s, spark = timed(start_spark, work, nproc)
        tracer.attach(spark)
        ctx = Context(args, work, nproc, spark, tracer, ops, stderr, probe)
        runner = {"olap": run_olap, "stream": run_stream}
        res = runner[args.workload](ctx, session_s)
        res["start_probe"] = start_probe
        if args.trace and args.workload == "stream":
            stream_single_core(ctx, res["throughput"])
        tracer.finish(nproc)
        metrics, wall = metrics_of(res, rss.stop(), probe, args.workload)
        print_report(args.workload, metrics, wall, res["lat"], ops)
        for n in ctx.notes:
            print(n)
        hist = os.path.join(work.history, f"{args.workload}.json")
        if args.trace:
            if args.workload == "olap":
                olap_layers(ctx, res.get("extra"))
            spec = _read_json(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), {})
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            layer = dict.fromkeys(units, 0.0)
            layer.update(ctx.layer)
            layer.update({k: v for k, (v, _) in wall.items()})
            layer["session.get_spark.wall_s"] = session_s
            layer["ops_failed_frac"] = ops.failed_frac
            prior = _read_json(hist, [])
            if prior:
                layer["trace.overhead_s"] = (metrics["ref_latency_p50_s"][0]
                                             - statistics.median(prior))
            else:
                print("trace.overhead_s: no untraced run of this workload in this checkout yet")
            trace_file = os.path.join(work.traces, f"{run_id}.json")
            tracer.write(trace_file)
            print(f"spans: {trace_file}")
            out = {k: (layer[k], u) for k, u in units.items()}
        else:
            prior = _read_json(hist, [])
            with open(hist, "w") as f:
                json.dump((prior + [metrics["ref_latency_p50_s"][0]])[-20:], f)
            out = metrics
        with open(work.path("samples.json"), "w") as f:
            json.dump(ctx.samples, f)
        ok = True
    finally:
        stop_spark(ctx.spark if ctx is not None else None)
        stderr.restore(replay_tail=0 if ok else 40)
        rss.stop()
    print(result_line(ops, out))
    sys.stdout.flush()
    return 0


def _read_json(path: str, default):
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
