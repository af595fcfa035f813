"""Measured layout leg: small-file compaction and Z-order pruning.

sources/__init__.compact_parquet claims (a) small-file open/footer
cost dominates scans on fragmented tables and (b) Morton-key
clustering (`zorder_by`) lets parquet min/max stats prune range
predicates on EITHER of two columns.  This tool measures both on the
sf10 events table (10M rows):

  scattered   the hostile ingest layout: 500 files, rows hash-shuffled
              so every file spans the full (user_id, event_id) domain
              — min/max stats prune nothing
  compacted   compact_parquet, no sort: few big files, same random row
              order inside
  sorted      compact_parquet(sort_by=[user_id]): prunes user_id
              predicates only
  zordered    compact_parquet(zorder_by=(user_id, event_id)): prunes
              range predicates on either column

Probes (min of ``reps`` warm runs, counts cross-checked identical):
  full-scan agg          isolates the file-count overhead
  1% user_id range       the single-column predicate
  1% event_id range      the OTHER column — where single-col sort fails
  1% x 1% both-column    Z-order's home turf

Small row groups (parquet.block.size=4MB) keep the pruning granularity
meaningful at this volume — at 100 TB the default 128MB groups give
the same files-to-data ratio.

Usage: python tools/layout_smoke.py [sf_dir] [--reps 2]
           [--dims user_event|user_ts]

``--dims user_ts`` (r13) swaps the second dimension from event_id to
``ts``: event_id moves WITH user_id at every copy offset in the
upsampled data (the r12 caveat — correlated dimensions flatter
single-column sort because pruning one column accidentally prunes the
other), while ts is copied VERBATIM across copies, so (user_id, ts)
are genuinely independent there — and ts × entity-id is the canonical
real-world Z-order pair anyway. Expected honest outcome: on the
independent pair, single-column sort keeps its user_id pruning but
does ~nothing for the ts probe, while Z-order prunes both.

MEASURED PREREQUISITE (r13, found by this leg's first run): Spark 4's
parquet reader never evaluates row-group min/max statistics for
TIMESTAMP_NTZ columns — a pushed ts predicate scanned all 10M rows on
a perfectly ts-clustered layout — and the INT96 physical type Spark
writes TIMESTAMP as BY DEFAULT carries no usable stats either
(measured on a 1M-row sorted layout: NTZ scans 1M, INT96 scans 1M,
TIMESTAMP-as-MICROS scans 65k). So the user_ts leg stores event time
the way a prune-able lakehouse layout must: cast to TIMESTAMP (UTC
session, order-preserving) and written as TIMESTAMP_MICROS (now the
engine session default, min_flink_spark/session.py). The probe
predicates are plain TIMESTAMP literals on the raw column.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from min_flink_spark.session import get_spark
from min_flink_spark.sources import compact_parquet

BASE = "/tmp/layout_smoke"


def main() -> int:
    args = list(sys.argv[1:])
    reps = 2
    if "--reps" in args:
        k = args.index("--reps")
        reps = int(args[k + 1])
        del args[k : k + 2]
    dims = "user_event"
    if "--dims" in args:
        k = args.index("--dims")
        dims = args[k + 1]
        del args[k : k + 2]
    if dims not in ("user_event", "user_ts"):
        raise SystemExit(f"--dims must be user_event|user_ts, got {dims}")
    sf_dir = args[0] if args else "/tmp/sf10"

    spark = get_spark(
        app_name="layout-smoke",
        extra_conf={"spark.hadoop.parquet.block.size": str(4 * 1024 * 1024)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # percentile-derived predicate bounds: the upsampled key space is
    # SPARSE (ids cluster at copy offsets), so a 1%-of-value-span slice
    # can contain zero rows — a 1%-of-ROWS slice is what we mean
    # both slices centered on the SAME percentile region: the upsample
    # correlates user_id and event_id (copy offsets move together), so
    # same-region slices intersect — the realistic z-order workload is
    # exactly such correlated dimensions (ts x entity id)
    u1, u2 = (int(x) for x in ev.approxQuantile("user_id", [0.40, 0.41], 0.001))
    if dims == "user_ts":
        # the prune-able event-time encoding (see docstring): NTZ →
        # TIMESTAMP under the UTC session (order-preserving), written
        # as TIMESTAMP_MICROS by the session default
        import datetime

        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        tsm = ev.select(F.unix_micros(F.col("ts")).alias("m"))
        m1, m2 = (
            int(x) for x in tsm.approxQuantile("m", [0.40, 0.41], 0.001)
        )
        s1, s2 = (
            datetime.datetime.utcfromtimestamp(m / 1e6).strftime(
                "%Y-%m-%d %H:%M:%S.%f"
            )
            for m in (m1, m2)
        )
        dim2_col = "ts"

        def dim2_pred(df):
            return (F.col("ts") >= F.expr(f"TIMESTAMP '{s1}'")) & (
                F.col("ts") < F.expr(f"TIMESTAMP '{s2}'")
            )

    else:
        e1, e2 = (
            int(x)
            for x in ev.approxQuantile("event_id", [0.40, 0.41], 0.001)
        )
        dim2_col = "event_id"

        def dim2_pred(df):
            return (F.col("event_id") >= e1) & (F.col("event_id") < e2)

    print(f"dims: (user_id, {dim2_col})", flush=True)

    # hostile ingest layout: hash-shuffle into 500 files
    print("building layouts...", flush=True)
    ev.repartition(500).write.mode("overwrite").parquet(f"{BASE}/scattered")
    t0 = time.time()
    compact_parquet(spark, f"{BASE}/scattered", f"{BASE}/compacted", target_file_mb=256)
    t_comp = time.time() - t0
    t0 = time.time()
    compact_parquet(
        spark, f"{BASE}/scattered", f"{BASE}/sorted", target_file_mb=256,
        sort_by=["user_id"],
    )
    t_sort = time.time() - t0
    t0 = time.time()
    compact_parquet(
        spark, f"{BASE}/scattered", f"{BASE}/zordered", target_file_mb=256,
        zorder_by=("user_id", dim2_col),
    )
    t_z = time.time() - t0
    print(
        f"  compaction one-time costs: plain {t_comp:.1f}s, "
        f"sorted {t_sort:.1f}s, zordered {t_z:.1f}s", flush=True
    )

    layouts = ["scattered", "compacted", "sorted", "zordered"]
    probes = {
        # decimal fold: float sums are partition-order-sensitive
        "full_scan": lambda df: df.agg(
            F.sum((F.col("value") * 1000000).cast("decimal(38,0)")),
            F.count(F.lit(1)),
        ).collect()[0],
        "user_range": lambda df: df.filter(
            (F.col("user_id") >= u1) & (F.col("user_id") < u2)
        ).agg(F.count(F.lit(1))).collect()[0],
        "dim2_range": lambda df: df.filter(dim2_pred(df)).agg(
            F.count(F.lit(1))
        ).collect()[0],
        "both_ranges": lambda df: df.filter(
            (F.col("user_id") >= u1)
            & (F.col("user_id") < u2)
            & dim2_pred(df)
        ).agg(F.count(F.lit(1))).collect()[0],
    }

    results: dict[str, dict[str, float]] = {p: {} for p in probes}
    checks: dict[str, set] = {p: set() for p in probes}
    for layout in layouts:
        df = spark.read.parquet(f"{BASE}/{layout}")
        for pname, probe in probes.items():
            best = None
            for _ in range(reps):
                t0 = time.time()
                out = probe(df)
                took = time.time() - t0
                best = took if best is None else min(best, took)
            results[pname][layout] = best
            checks[pname].add(tuple(out))
            print(f"  {layout} / {pname}: {best:.2f}s -> {tuple(out)}", flush=True)

    for pname, vals in checks.items():
        assert len(vals) == 1, f"{pname}: layouts disagree: {vals}"

    print("\n== min times (s) ==")
    header = "probe".ljust(14) + "".join(x.rjust(12) for x in layouts)
    print(header)
    for pname in probes:
        print(
            pname.ljust(14)
            + "".join(f"{results[pname][x]:.2f}".rjust(12) for x in layouts)
        )

    # Rows actually materialized by the parquet scan (after row-group/
    # page pruning via min/max stats) — the pruning measurement itself.
    # Local NVMe is fast enough that wall time sits on the task floor
    # at this volume; rows-scanned is what turns into the I/O bill at
    # 100 TB. AQE off so the scan leaf is directly reachable.
    #
    # r14 (verdict r13 item 7): also record FILES READ (the scan-node
    # metric — constant across row-group pruning, every file's footer
    # is still consulted; what shrinks it is partition/file-level
    # pruning, so it contextualizes the rows number) and BYTES READ.
    # Bytes come from the JVM's /proc/<pid>/io rchar delta around the
    # probe — Spark 4's vectorized parquet reader bypasses the Hadoop
    # FileSystem statistics (measured: a 6 MB column scan registered
    # 0.02 MB there), while rchar counts every read() the JVM issues;
    # single-JVM local mode with a scan-only probe makes the delta an
    # honest read-volume measure (cross-checked: count-only = footer
    # bytes, full 2-col sum = compressed column-chunk bytes).
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def fs_bytes_read() -> int:
        with open(f"/proc/{jvm_pid}/io") as fh:
            return int(
                next(l for l in fh if l.startswith("rchar")).split()[1]
            )

    def scan_metrics(q) -> tuple[int, int, int]:
        b0 = fs_bytes_read()
        q.collect()
        nbytes = fs_bytes_read() - b0
        leaves = q._jdf.queryExecution().executedPlan().collectLeaves()
        node = leaves.apply(0)
        m, vals = node.metrics(), {}
        it = m.iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        return (
            vals.get("numOutputRows", -1),
            vals.get("numFiles", -1),
            nbytes,
        )

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        prune_probes = {
            "user_range": lambda df: df.filter(
                (F.col("user_id") >= u1) & (F.col("user_id") < u2)
            ),
            "dim2_range": lambda df: df.filter(dim2_pred(df)),
            "both_ranges": lambda df: df.filter(
                (F.col("user_id") >= u1)
                & (F.col("user_id") < u2)
                & dim2_pred(df)
            ),
        }
        metrics: dict[str, dict[str, tuple[int, int, int]]] = {}
        for pname, probe_df in prune_probes.items():
            metrics[pname] = {}
            for layout in layouts:
                df = spark.read.parquet(f"{BASE}/{layout}")
                metrics[pname][layout] = scan_metrics(
                    probe_df(df).agg(F.count(F.lit(1)))
                )
        for title, idx, fmt in (
            ("rows scanned (parquet row-group pruning)", 0, "{:,}"),
            ("files read (scan node)", 1, "{:,}"),
            ("bytes read (FS statistics, MB)", 2, "{:,.1f}"),
        ):
            print(f"\n== {title} ==")
            print("probe".ljust(14) + "".join(x.rjust(12) for x in layouts))
            for pname in prune_probes:
                row = pname.ljust(14)
                for layout in layouts:
                    v = metrics[pname][layout][idx]
                    if idx == 2:
                        v = v / 1e6
                    row += fmt.format(v).rjust(12)
                print(row)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
