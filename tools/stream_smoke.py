"""Streaming throughput smoke: rows/s through the streaming paths.

Bounded streams from the in-repo Python DataSource's STREAM reader
drive (a) the stateless shuffle+agg path and (b) the stateful
running-reduce operator (JVM flatMapGroupsWithState) at two sizes,
printing rows/s and the size-scaling ratio — the number that says
whether streaming throughput is shuffle-bound (scales out) or
harness-bound. The fixed
Structured-Streaming lifecycle (~1-2 s per query) is measured
separately via the small size so the big-size figure approximates
steady-state micro-batch throughput.

Usage: python tools/stream_smoke.py [small_rows] [big_rows]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from min_flink_spark.session import get_spark  # noqa: E402
from min_flink_spark.sources.pysource import register_synthetic_source  # noqa: E402
from min_flink_spark.streaming.runner import (  # noqa: E402
    run_to_completion,
    shuffle_partitions,
)
from min_flink_spark.streaming.stateful import (  # noqa: E402
    RunningReduceFunction,
    process_keyed,
)


def stream(spark, rows: int):
    return (
        spark.readStream.format("synthetic_events")
        .option("rows", str(rows))
        .option("partitions", "32")
        .load()
    )


def shapes(spark, rows: int):
    def stateless():
        s = stream(spark, rows)
        agg = s.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias("v"),
        )
        assert run_to_completion(agg, output_mode="update").count() == 5

    def stateful_running_reduce():
        s = stream(spark, rows).select(
            "user_id",
            "event_id",
            F.round(F.col("value") * 1000).cast("bigint").alias("value"),
        )
        fn = RunningReduceFunction(
            "user_id", "event_id", "value", "sum", value_type="bigint"
        )
        with shuffle_partitions(spark, 16):
            out = run_to_completion(
                process_keyed(s, ["user_id"], fn, output_mode="update"),
                output_mode="update",
            )
        assert out.count() == rows

    yield "stateless_agg", stateless
    yield "stateful_running_reduce", stateful_running_reduce


def main() -> None:
    small = int(sys.argv[1]) if len(sys.argv) > 1 else 250_000
    big = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    spark = get_spark(app_name="stream-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    register_synthetic_source(spark)
    # warm the streaming machinery (query planner, state store, Arrow
    # paths) once per shape so the timed runs measure steady state —
    # the first-ever streaming query pays several seconds of one-time
    # init that would otherwise land on the small size
    for _, fn in shapes(spark, 50_000):
        fn()
    results = {}
    for rows in (small, big):
        for name, fn in shapes(spark, rows):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            results[(name, rows)] = dt
            print(
                json.dumps(
                    {
                        "shape": name,
                        "rows": rows,
                        "sec": round(dt, 2),
                        "rows_per_sec": int(rows / dt),
                    }
                ),
                flush=True,
            )
    print(
        json.dumps(
            {
                "ratio_rows": big / small,
                "ratios": {
                    n: round(results[(n, big)] / results[(n, small)], 2)
                    for n in ("stateless_agg", "stateful_running_reduce")
                },
            }
        )
    )


if __name__ == "__main__":
    main()
