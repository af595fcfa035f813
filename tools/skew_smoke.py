"""Measured skew leg: does the skew toolkit actually beat the naive plan?

The skew story so far is plan-shape argument (operators/skew.py
docstrings, README guidance: "broadcast the small side, salt the
too-big-to-broadcast hot-key regime, AQE handles the rest").  This
tool turns each claim into a number on a deliberately hostile dataset:

  fact: N rows, ONE key owning ``hot_share`` (default 30%) of them,
        the rest uniform over ``n_keys`` keys (Spark range + pure
        column exprs — no parquet, so the leg scales to any N);
  dim:  one row per key, sized past the broadcast threshold so the
        join genuinely shuffles (the "middle regime" salted_join is
        for).

Matrix measured (each timed as agg-to-one-row so driver transfer is
out of the picture; min of ``reps``):

  join-naive     plain shuffle join, AQE skew-join split DISABLED —
                 the straggler baseline
  join-aqe       plain shuffle join, AQE skew-join split ENABLED —
                 what the engine default gives you
  join-salted    operators/skew.salted_join (AQE on; salts=16)
  agg-naive      plain groupBy().sum() on the hot key distribution
  agg-salted     operators/skew.salted_agg (salts=16)

Expected honest outcomes (verify, then write them into PERF.md):
- join-naive shows the straggler tail; join-aqe should largely close
  it (AQE splits the hot partition at runtime); salted_join should be
  competitive with join-aqe and is the portable fix where AQE's
  split doesn't trigger (non-shuffle layouts, older runtimes).
- agg-naive is EXPECTED TO WIN or tie: decomposable aggregates are
  absorbed by map-side partial aggregation (the hot key reaches the
  reducer as <= n_partitions partial rows, not 0.3*N rows), so
  salting buys nothing and pays an extra shuffle-sized grouping.
  salted_agg's real use is the non-decomposable / huge-partial regime
  (exact per-key distincts, array building), not plain sums.

Usage: python tools/skew_smoke.py [--rows 40000000] [--keys 2000000]
           [--hot-share 0.3] [--salts 16] [--reps 2]

NATURAL-SKEW MODE (r13, verdict r12 item 6): ``--natural <sf_dir>``
runs the same variant matrix on REAL parquet instead of the synthetic
hostile distribution — orders ⋈ customer on o_custkey for the join
leg, events groupBy(user_id) for the agg leg — and FIRST computes the
decision inputs the "measure before salting" recipe needs: the
hottest key's row count, estimated bytes (rows × bytes/row from table
stats), and the AQE skew thresholds it would have to cross
(max(spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes —
default 256MB, factor 5 × median partition) before the split kicks
in). The printed verdict is the recipe applied: hot-partition MB
under the threshold → DO NOTHING (salting pays its overhead for no
straggler to kill); over it → AQE split first, salt where AQE can't
see the shuffle. The expected honest outcome on TPC-H-shaped data is
the negative branch — natural orders-per-customer / events-per-user
skew is orders of magnitude below the threshold, and the measured
variant times should show salting as pure overhead, the mirror image
of the synthetic leg's 30%-hot-key positive branch.

Usage: python tools/skew_smoke.py --natural /tmp/sf10 [--salts 16]
           [--reps 2]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from min_flink_spark.operators.skew import salted_agg, salted_join
from min_flink_spark.session import get_spark


def _arg(args: list[str], flag: str, default, cast):
    if flag in args:
        k = args.index(flag)
        v = cast(args[k + 1])
        del args[k : k + 2]
        return v
    return default


def build_fact(spark, rows: int, n_keys: int, hot_share: float) -> DataFrame:
    """id-derived deterministic skew: first hot_share of ids -> key 0,
    rest uniform over [1, n_keys). Column exprs only — codegen, no UDF."""
    return spark.range(rows).select(
        F.when(F.col("id") < int(rows * hot_share), F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys - 1)) + 1)
        .alias("k"),
        (F.col("id") % 1000).alias("v"),
    )


def build_dim(spark, n_keys: int) -> DataFrame:
    # ~3 columns x n_keys rows; at n_keys=2M this is ~50 MB serialized,
    # past the 10 MB autoBroadcastJoinThreshold -> real shuffle join
    return spark.range(n_keys).select(
        F.col("id").alias("k"),
        F.pmod(F.xxhash64(F.col("id") + 7), F.lit(100)).alias("grp"),
        (F.col("id") * 2).alias("w"),
    )


def timed(label: str, reps: int, fn) -> float:
    best = None
    for _ in range(reps):
        t0 = time.time()
        out = fn()
        took = time.time() - t0
        best = took if best is None else min(best, took)
        print(f"  {label}: {took:.2f}s -> {out}", flush=True)
    return best


def natural_leg(spark, sf_dir: str, salts: int, reps: int) -> int:
    """The variant matrix on real parquet + the decision-threshold
    numbers (module docstring, NATURAL-SKEW MODE)."""
    import os

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    customer = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))

    print(f"== decision inputs ({sf_dir}) ==", flush=True)
    decisions = []
    for label, df, key, path in (
        ("orders.o_custkey", orders, "o_custkey", "orders.parquet"),
        ("events.user_id", events, "user_id", "events.parquet"),
    ):
        n = df.count()
        stats = (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.max("c").alias("hot"),
                F.count(F.lit(1)).alias("nkeys"),
                F.expr("percentile_approx(c, 0.5)").alias("med"),
            )
            .collect()[0]
        )
        fsize = sum(
            os.path.getsize(os.path.join(sf_dir, path, f))
            for f in os.listdir(os.path.join(sf_dir, path))
        ) if os.path.isdir(os.path.join(sf_dir, path)) else os.path.getsize(
            os.path.join(sf_dir, path)
        )
        bytes_per_row = fsize / n
        hot_mb = stats["hot"] * bytes_per_row / 1e6
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        median_part_mb = fsize / parts / 1e6
        threshold_mb = max(256.0, 5 * median_part_mb)
        decisions.append(hot_mb > threshold_mb)
        print(
            f"{label}: rows={n} keys={stats['nkeys']} hot_key_rows={stats['hot']} "
            f"median_key_rows={stats['med']} bytes/row~{bytes_per_row:.1f} "
            f"hot_partition~{hot_mb:.2f}MB vs AQE split threshold "
            f"max(256MB, 5x median partition {median_part_mb:.1f}MB)="
            f"{threshold_mb:.0f}MB -> "
            + ("SALT/SPLIT territory" if hot_mb > threshold_mb else "DO NOTHING"),
            flush=True,
        )

    # exact-integer value so every variant's checksum is order-free
    fact_j = orders.select(
        F.col("o_custkey").alias("k"), (F.col("o_orderkey") % 1000).alias("v")
    )
    dim = customer.select(
        F.col("c_custkey").alias("k"), F.col("c_nationkey").alias("w")
    )
    fact_a = events.select(
        F.col("user_id").alias("k"), (F.col("event_id") % 1000).alias("v")
    )

    def checksum(df: DataFrame):
        r = df.agg(F.sum("w").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        return (r["s"], r["n"])

    def agg_checksum(df: DataFrame):
        r = df.agg(F.sum("s").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        return (r["s"], r["n"])

    results: dict[str, float] = {}
    sums: dict[str, tuple] = {}

    def run_join(skew_split: bool):
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(skew_split).lower()
        )
        try:
            return checksum(fact_j.join(dim, "k", "inner"))
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    results["join_naive_noaqe_split"] = timed(
        "join-naive (AQE skew split off)", reps, lambda: run_join(False)
    )
    sums["join_naive"] = run_join(False)
    results["join_aqe"] = timed(
        "join-aqe (default thresholds)", reps, lambda: run_join(True)
    )
    sums["join_aqe"] = run_join(True)
    results["join_salted"] = timed(
        f"join-salted (salts={salts})",
        reps,
        lambda: checksum(salted_join(fact_j, dim, ["k"], F.col("v"), salts=salts)),
    )
    sums["join_salted"] = checksum(
        salted_join(fact_j, dim, ["k"], F.col("v"), salts=salts)
    )
    results["agg_naive"] = timed(
        "agg-naive (plain groupBy sum)",
        reps,
        lambda: agg_checksum(fact_a.groupBy("k").agg(F.sum("v").alias("s"))),
    )
    results["agg_salted"] = timed(
        f"agg-salted (salts={salts})",
        reps,
        lambda: agg_checksum(
            salted_agg(fact_a, ["k"], {"s": ("sum", "v")}, F.col("v"), salts=salts)
        ),
    )
    sums["agg_naive"] = agg_checksum(fact_a.groupBy("k").agg(F.sum("v").alias("s")))
    sums["agg_salted"] = agg_checksum(
        salted_agg(fact_a, ["k"], {"s": ("sum", "v")}, F.col("v"), salts=salts)
    )

    print("\n== result cross-check ==")
    print(sums)
    assert sums["join_naive"] == sums["join_aqe"] == sums["join_salted"], (
        "join variant results differ!"
    )
    assert sums["agg_naive"] == sums["agg_salted"], "agg variant results differ!"
    print("\n== min times ==")
    for k, v in results.items():
        print(f"{k}: {v:.2f}s")
    print(
        "\nverdict:",
        "salting justified on at least one table"
        if any(decisions)
        else "natural skew below every threshold — the recipe says DO NOTHING; "
        "the variant times above price what ignoring it would cost",
    )
    return 0


def main() -> int:
    args = list(sys.argv[1:])
    natural = _arg(args, "--natural", None, str)
    if natural is not None:
        salts = _arg(args, "--salts", 16, int)
        reps = _arg(args, "--reps", 2, int)
        spark = get_spark(app_name="skew-smoke-natural")
        spark.sparkContext.setLogLevel("ERROR")
        return natural_leg(spark, natural, salts, reps)
    rows = _arg(args, "--rows", 40_000_000, int)
    n_keys = _arg(args, "--keys", 2_000_000, int)
    hot_share = _arg(args, "--hot-share", 0.3, float)
    salts = _arg(args, "--salts", 16, int)
    reps = _arg(args, "--reps", 2, int)

    spark = get_spark(app_name="skew-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    fact = build_fact(spark, rows, n_keys, hot_share)
    dim = build_dim(spark, n_keys)

    def checksum(df: DataFrame):
        # one-row reduction: sum over a join/agg output column + count,
        # so every variant is also cross-checked for identical results
        r = df.agg(
            F.sum("w").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        return (r["s"], r["n"])

    results: dict[str, float] = {}
    sums: dict[str, tuple] = {}

    print(f"fact={rows} rows, hot key 0 = {hot_share:.0%}, dim={n_keys} keys, salts={salts}", flush=True)

    # --- join variants -------------------------------------------------
    def run_join(skew_split: bool):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_split).lower())
        try:
            return checksum(fact.join(dim, "k", "inner"))
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    results["join_naive_noaqe_split"] = timed(
        "join-naive (AQE skew split off)", reps, lambda: run_join(False)
    )
    sums["join_naive"] = run_join(False)
    results["join_aqe"] = timed(
        "join-aqe (default engine)", reps, lambda: run_join(True)
    )
    sums["join_aqe"] = run_join(True)
    results["join_salted"] = timed(
        f"join-salted (salts={salts})",
        reps,
        lambda: checksum(salted_join(fact, dim, ["k"], F.col("v"), salts=salts)),
    )
    sums["join_salted"] = checksum(salted_join(fact, dim, ["k"], F.col("v"), salts=salts))

    # --- agg variants ----------------------------------------------------
    def agg_checksum(df: DataFrame):
        r = df.agg(F.sum("s").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        return (r["s"], r["n"])

    results["agg_naive"] = timed(
        "agg-naive (plain groupBy sum)",
        reps,
        lambda: agg_checksum(fact.groupBy("k").agg(F.sum("v").alias("s"))),
    )
    results["agg_salted"] = timed(
        f"agg-salted (salts={salts})",
        reps,
        lambda: agg_checksum(
            salted_agg(fact, ["k"], {"s": ("sum", "v")}, F.col("v"), salts=salts)
        ),
    )
    # ADVICE r12: the agg variants are evidence behind operators/skew's
    # salted_agg guidance, so their results must be ASSERTED equal,
    # not just printed (v is bigint — sums are exact, order-free).
    sums["agg_naive"] = agg_checksum(fact.groupBy("k").agg(F.sum("v").alias("s")))
    sums["agg_salted"] = agg_checksum(
        salted_agg(fact, ["k"], {"s": ("sum", "v")}, F.col("v"), salts=salts)
    )

    print("\n== result cross-check (all join variants must match) ==")
    print(sums)
    assert sums["join_naive"] == sums["join_aqe"] == sums["join_salted"], "variant results differ!"
    assert sums["agg_naive"] == sums["agg_salted"], "agg variant results differ!"

    print("\n== min times ==")
    for k, v in results.items():
        print(f"{k}: {v:.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
