"""Engine-side scale curve: time registry queries across sf dirs.

The program's perf evidence so far rides (a) bench.py at sf0.1 and
(b) the synthetic-generator scale smoke to 80M rows for the summary
families.  This tool adds the missing third leg: REAL registry
queries timed end-to-end (plan + execute + collect, exactly what the
driver's gate does) at multiple REAL parquet scale points, so the
"would this hold at 100x?" argument for the headline query shapes is
a measured curve instead of a plan-shape reading.

Methodology: per (query, sf_dir) the query runs ``reps`` times in one
warm session (default 2) and the MIN is reported — same convention as
bench.py (min isolates code cost from box noise; the per-round BENCH
artifacts carry medians too, but a cross-SF slope wants the floor).
Row counts are printed so the output-volume component of each slope
is visible (e.g. mad_outlier_flags returns n rows — its collect cost
IS the output, not the operator).

Sink convention (r14, verdict r13 item 5): for result-proportional
queries the collect() number is >=90% single-process driver transfer
at sf10 (the r13 decomposition: left_join writes parquet in 3-17 s
where collect takes 46-147 s), so the curve misread as engine
behavior. ``--sink both`` times BOTH materializations per point —
the parquet-sink number is the HEADLINE (cluster-shaped: scan ->
shuffle -> distributed write) and collect stays as the annotated
harness term. Default remains collect-only (the r12/r13-comparable
convention).

Usage:
    python tools/scale_curve.py --sfs /root/testdata/sf0.1,/tmp/sf1,/tmp/sf10 \
        [--reps 2] [--sink collect|parquet|both] [query ...]

Defaults to the 15 bench headlines. Prints one JSON line per query:
    {"query": ..., "points": {"<sf_dir>": {"sec": ..., "rows": ...,
                                           "sink_sec": ...}}}
and a closing summary with per-query slopes between consecutive points
(slopes use the sink number when present — the engine term).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from min_flink_spark.core.ckpt import release_backing  # noqa: E402
from min_flink_spark.session import get_spark  # noqa: E402

# bench.py's 15 frozen headlines (keep in sync by name, not import —
# bench.py owns its own list and this tool must stay usable on any
# subset)
DEFAULT_QUERIES = [
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "left_join_order_item_stats",
    "window_rank_lag",
    "tumbling_window_daily",
    "session_window_4h",
    "flatmap_wordcount",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "streaming_running_reduce",
    "tfidf_top_terms",
    "text_stats",
    "pivot_event_counts",
    "deterministic_sample",
]


def main() -> int:
    args = list(sys.argv[1:])
    sfs = ["/root/testdata/sf0.1", "/tmp/sf1"]
    reps = 2
    if "--sfs" in args:
        k = args.index("--sfs")
        sfs = args[k + 1].split(",")
        del args[k : k + 2]
    if "--reps" in args:
        k = args.index("--reps")
        reps = int(args[k + 1])
        del args[k : k + 2]
    sink = "collect"
    if "--sink" in args:
        k = args.index("--sink")
        sink = args[k + 1]
        del args[k : k + 2]
    if sink not in ("collect", "parquet", "both"):
        raise SystemExit(f"--sink must be collect|parquet|both, got {sink}")
    queries = args or DEFAULT_QUERIES

    import importlib
    import os
    import tempfile

    entry = importlib.import_module("__spark_entry__")
    qs = entry.queries()
    spark = get_spark(app_name="scale-curve")
    sink_dir = (
        tempfile.mkdtemp(prefix="curve_sink_") if sink != "collect" else None
    )

    def timed(fn, sf_dir, to_parquet: bool, name: str):
        t0 = time.time()
        df = fn(spark, sf_dir)
        if to_parquet:
            df.write.mode("overwrite").parquet(
                os.path.join(sink_dir, name)
            )
            rows = None
        else:
            rows = len(df.collect())
        took = time.time() - t0
        release_backing(df)
        return took, rows

    results = {}
    for name in queries:
        fn = qs[name]
        points = {}
        for sf_dir in sfs:
            point = {}
            if sink in ("collect", "both"):
                best, rows = None, None
                for _ in range(reps):
                    took, rows = timed(fn, sf_dir, False, name)
                    best = took if best is None else min(best, took)
                point["sec"] = round(best, 3)
                point["rows"] = rows
            if sink in ("parquet", "both"):
                best = None
                for _ in range(reps):
                    took, _ = timed(fn, sf_dir, True, name)
                    best = took if best is None else min(best, took)
                point["sink_sec"] = round(best, 3)
            points[sf_dir] = point
            desc = []
            if "sink_sec" in point:
                desc.append(f"sink {point['sink_sec']:.3f}s")
            if "sec" in point:
                desc.append(f"collect {point['sec']:.3f}s ({point['rows']} rows)")
            print(f"{name} @ {sf_dir}: " + ", ".join(desc), flush=True)
        results[name] = points
        print(json.dumps({"query": name, "points": points}), flush=True)

    key = "sink_sec" if sink != "collect" else "sec"
    print(
        f"\n== slopes (ratio between consecutive sf points, on {key}) =="
    )
    for name, points in results.items():
        secs = [points[s][key] for s in sfs]
        slopes = [
            f"{b / a:.2f}x" if a > 0 else "inf"
            for a, b in zip(secs, secs[1:])
        ]
        print(f"{name}: " + " -> ".join(f"{s:.3f}s" for s in secs) + "  [" + ", ".join(slopes) + "]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
