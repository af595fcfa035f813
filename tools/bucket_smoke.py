"""Measured bucketing leg: what does paying the shuffle at write buy?

sources/bucketed.py argues the 100 TB case for bucketed tables from
plan shape ("any later equi-join on the bucket key skips the Exchange
entirely").  This tool measures it on the sf10 fact tables: lineitem
(60M rows) ⋈ orders (15M rows) on the order key — the canonical
fact⋈fact join whose double shuffle dominates at scale.

Variants (result-checksummed identical; min of ``reps`` warm runs):

  plain          read parquet, join, aggregate — both sides shuffle
  cobucket       both sides pre-bucketed (write_bucketed, same key,
                 same bucket count, sorted) — the join must plan with
                 ZERO Exchange and ZERO Sort (asserted on the physical
                 plan string, not eyeballed)
  one-time cost  the bucketed writes themselves, reported alongside —
                 the tradeoff is real and belongs in the table

Amortization math printed at the end: the write pays for itself after
``write_cost / per_join_saving`` joins on the same key — the number a
table designer actually needs.

Usage: python tools/bucket_smoke.py [sf_dir] [--buckets 32] [--reps 2]
       (default sf_dir /tmp/sf10 — generate with make_sf1.py --copies 100)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from min_flink_spark.session import get_spark
from min_flink_spark.sources.bucketed import cobucket_join, write_bucketed


def main() -> int:
    args = list(sys.argv[1:])
    buckets, reps = 32, 2
    if "--buckets" in args:
        k = args.index("--buckets")
        buckets = int(args[k + 1])
        del args[k : k + 2]
    if "--reps" in args:
        k = args.index("--reps")
        reps = int(args[k + 1])
        del args[k : k + 2]
    sf_dir = args[0] if args else "/tmp/sf10"

    spark = get_spark(app_name="bucket-smoke")
    spark.sparkContext.setLogLevel("ERROR")

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )

    def checksum(df):
        # decimal fold: float sums are partition-order-sensitive in the
        # last ULPs, which would flag the variants as "different"
        r = df.agg(
            F.sum(
                (F.col("l_extendedprice") * 100).cast("decimal(38,0)")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return (r["s"], r["n"])

    def timed(label, fn):
        best, out = None, None
        for _ in range(reps):
            t0 = time.time()
            out = fn()
            took = time.time() - t0
            best = took if best is None else min(best, took)
            print(f"  {label}: {took:.2f}s -> {out}", flush=True)
        return best, out

    plain_t, plain_sum = timed(
        "plain parquet join",
        lambda: checksum(
            li.join(od, li["l_orderkey"] == od["o_orderkey"], "inner")
        ),
    )

    for t in ("li_b", "od_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    t0 = time.time()
    # repartition on the bucket key first so each task owns exactly one
    # bucket -> ONE file per bucket; with multiple files per bucket
    # Spark cannot trust the recorded sort order and re-sorts before
    # every SortMergeJoin, forfeiting half the benefit. The repartition
    # shuffle is exactly the "shuffle paid once at write" — it belongs
    # in the one-time cost.
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "okey").repartition(buckets, "okey"),
        "li_b",
        ["okey"],
        buckets,
        path="/tmp/bucket_smoke/li_b",
    )
    write_bucketed(
        od.withColumnRenamed("o_orderkey", "okey").repartition(buckets, "okey"),
        "od_b",
        ["okey"],
        buckets,
        path="/tmp/bucket_smoke/od_b",
    )
    write_cost = time.time() - t0
    print(f"  one-time bucketed writes (both sides, {buckets} buckets): {write_cost:.2f}s", flush=True)

    joined = cobucket_join(spark, "li_b", "od_b", on=["okey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    has_exchange = "Exchange" in plan
    has_sort = "Sort [" in plan
    print(f"  cobucket plan: Exchange={'YES' if has_exchange else 'no'}, Sort={'YES' if has_sort else 'no'}", flush=True)
    assert not has_exchange, "co-bucketed join still shuffles — bucket specs must differ"

    cob_t, cob_sum = timed(
        "co-bucketed join",
        lambda: checksum(cobucket_join(spark, "li_b", "od_b", on=["okey"])),
    )
    assert plain_sum == cob_sum, f"results differ: {plain_sum} vs {cob_sum}"

    # Sort-free variant: Spark 3+ ignores recorded bucket sort order by
    # default (spark.sql.legacy.bucketedTableScan.outputOrdering=false,
    # because multiple files per bucket would make it wrong); with ONE
    # file per bucket — guaranteed by the repartition above — the
    # legacy conf is safe and removes both Sorts from the SMJ.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        plan2 = (
            cobucket_join(spark, "li_b", "od_b", on=["okey"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan2 and "Sort [" not in plan2, plan2[:400]
        sorted_t, sorted_sum = timed(
            "co-bucketed join, sorted scan (legacy outputOrdering)",
            lambda: checksum(cobucket_join(spark, "li_b", "od_b", on=["okey"])),
        )
        assert plain_sum == sorted_sum, f"results differ: {plain_sum} vs {sorted_sum}"
    finally:
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )

    best_bucketed = min(cob_t, sorted_t)
    saving = plain_t - best_bucketed
    print("\n== summary ==")
    print(f"plain join:                    {plain_t:.2f}s")
    print(f"co-bucketed join:              {cob_t:.2f}s  ({plain_t / cob_t:.2f}x)")
    print(f"co-bucketed join, sorted scan: {sorted_t:.2f}s  ({plain_t / sorted_t:.2f}x)")
    print(f"bucketed write (one-time, both sides): {write_cost:.2f}s")
    if saving > 0:
        print(f"write amortizes after {write_cost / saving:.1f} joins on this key")
    else:
        print("no per-join saving at this scale — bucketing not worth it here")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
