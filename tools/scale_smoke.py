"""Scale smoke: core operator shapes on 5M → 20M generated rows.

The driver's parquet testdata tops out at sf0.1 (~600k lineitems), too
small to see scaling behavior. This harness uses the in-repo Python
DataSource (sources/pysource.py — partition-parallel generation, zero
disk) to push the hot operator shapes 1-2 orders of magnitude further
and prints per-shape wall times at two sizes, so SUBLINEAR-OR-LINEAR
scaling is measurable: a shape whose time grows ~4× at 4× rows is
shuffle/agg-bound and scales; one that explodes is a design bug this
smoke exists to catch.

Row generation itself (3 md5 calls/row in Python) dominates at these
sizes (~2M rows/s on 32 cores) and is the same cost in every shape, so
RATIOS between sizes are the signal, not absolute times.

Usage: python tools/scale_smoke.py [small_rows] [big_rows] [--only SUBSTR ...]
Prints one JSON line per (shape, rows). ``--only`` (repeatable) runs
only shapes whose name contains a given substring — an isolated-JVM
measurement for one family: the full tree accumulates localCheckpoint
blocks (graph symmetrizations, stash partials) that are never released
mid-run, and materializing ANYTHING under that block-manager pressure
at the 20M size stalls tens of seconds (measured r11: kmv_kw_build
2.7 s at 5M but 46.7 s at 20M inside the full tree vs ~7 s isolated —
the pressure, not the shape). Dependent shapes share a prefix
(kmv_kw_build / kmv_kw_range_merge), so a substring keeps pairs
together.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from min_flink_spark.session import get_spark  # noqa: E402
from min_flink_spark.sources.pysource import register_synthetic_source  # noqa: E402


# per-size crossover for the build→merge split shapes (round 11): the
# *_build shapes materialize partials here; the *_range_merge shapes
# read them — valid because main() runs shapes in yield order per size
_STASH: dict = {}


def events(spark, rows: int, partitions: int = 64):
    return (
        spark.read.format("synthetic_events")
        .option("rows", str(rows))
        .option("partitions", str(partitions))
        .load()
    )


def shapes(spark, rows: int):
    ev = events(spark, rows)
    vu = F.round(F.col("value") * 1000).cast("bigint")
    yield "hash_agg_by_user", lambda: ev.groupBy("user_id").agg(
        F.count(F.lit(1)), F.sum(vu)
    ).count()
    yield "tumbling_window_hourly", lambda: ev.groupBy(
        F.window("ts", "1 hour"), "event_type"
    ).agg(F.count(F.lit(1))).count()
    yield "exact_dedup", lambda: ev.dropDuplicates(
        ["user_id", "event_type"]
    ).count()
    yield "topk_per_user", lambda: ev.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
        ),
    ).filter(F.col("rn") <= 3).count()
    yield "self_join_on_user_hour", lambda: ev.filter(
        F.col("event_type") == "click"
    ).alias("a").join(
        ev.filter(F.col("event_type") == "purchase").alias("b"),
        on=[
            F.col("a.user_id") == F.col("b.user_id"),
            F.date_trunc("hour", F.col("a.ts")) == F.date_trunc("hour", F.col("b.ts")),
        ],
    ).count()

    # graph shapes: synthetic edge list derived from the event rows —
    # exercises the round-4 iterative/equi-join-cascade operators at
    # row counts the parquet testdata can't reach. Node space scales
    # with rows (N = rows/20) so average degree stays ~constant (~40):
    # wedge volume then grows LINEARLY with edges, which is the
    # degree-bounded regime the operators are designed for (a fixed
    # node space would square the degree at 4x rows and measure graph
    # densification, not operator scaling).
    n_nodes = max(rows // 20, 1000)

    def _edges():
        return ev.select(
            F.pmod(F.col("event_id") * 2654435761, F.lit(n_nodes)).alias("src"),
            F.pmod(F.col("event_id") * 40503 + 7, F.lit(n_nodes)).alias("dst"),
        )

    def _pagerank():
        from min_flink_spark.operators.graph import pagerank_integer

        return pagerank_integer(_edges(), iterations=3).count()

    def _triangles():
        from min_flink_spark.operators.graph import triangle_counts

        return triangle_counts(_edges()).count()

    yield "pagerank_3_rounds", _pagerank
    yield "triangle_counts", _triangles

    # round-6 iterative shapes: BFS frontier expansion and k-core
    # peeling on the symmetrized version of the same synthetic graph
    def _sym():
        e = _edges().filter(F.col("src") != F.col("dst"))
        return (
            e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .distinct()
            .localCheckpoint(eager=True)
        )

    def _bfs():
        from min_flink_spark.operators.graph import bfs_hops

        sym = _sym()
        seeds = sym.filter(F.col("src") < 5).select(F.col("src").alias("node"))
        return bfs_hops(sym, seeds, max_hops=3).count()

    def _kcore():
        from min_flink_spark.operators.graph import k_core

        # sym degree ~40 at every size (degree-bounded regime), so a
        # threshold inside the degree spread produces real cascading
        return k_core(_sym(), k=35, rounds=3)[-1].count()

    yield "bfs_3_hops", _bfs
    yield "kcore_3_rounds", _kcore

    # round-6 PQ-ANN: synthetic embedding corpus (rows/20 vectors, the
    # node-space scaling) — deterministic per-row numpy generation, no
    # disk; measures the 3 corpus kernel passes + ADC scan
    n_vec = max(rows // 20, 10_000)

    def _vectors(n):
        import numpy as np
        import pandas as pd

        def gen(batches):
            for pdf in batches:
                ids = pdf["id"].to_numpy()
                V = np.abs(np.sin(np.outer(ids + 1, np.arange(1, 65))))
                yield pd.DataFrame(
                    {"vec_id": ids, "embedding": list(V.astype("float32"))}
                )

        return spark.range(0, n, 1, 64).mapInPandas(
            gen, "vec_id bigint, embedding array<float>"
        )

    def _pq():
        from min_flink_spark.operators.similarity import pq_topk

        corpus = _vectors(n_vec)
        # corpus_count: the smoke KNOWS the size — on synthetic sources
        # the count() it replaces is a full generation pass (r7's
        # below-crossover penalty); parquet callers get it almost free
        # from footer metadata either way
        return pq_topk(
            corpus,
            corpus.filter(F.col("vec_id") < 10),
            k=5,
            n_codes=32,
            shortlist_mult=20,
            kmeans_iters=3,
            corpus_count=n_vec,
        ).count()

    yield "pq_topk", _pq

    # round-7 shapes: mergeable log-histogram quantiles (pure hash-agg,
    # should track the agg family) and nearest-prototype assignment
    # (broadcast ×L expansion collapsed map-side — should be ~linear)
    def _sketch():
        from min_flink_spark.operators.pipeline import (
            log_histogram_sketch,
            merge_histogram_sketches,
            sketch_quantiles,
        )

        vm = F.round(F.col("value") * 1_000_000).cast("bigint")
        sh = ev.withColumn("_shard", F.pmod(F.col("event_id"), F.lit(2)))
        partials = log_histogram_sketch(sh, ["_shard", "event_type"], vm)
        merged = merge_histogram_sketches(
            *[partials.filter(F.col("_shard") == s).drop("_shard") for s in (0, 1)]
        )
        return sketch_quantiles(merged, ["event_type"], [50, 90, 99]).count()

    def _protos():
        from min_flink_spark.operators.similarity import (
            label_prototypes,
            nearest_prototype,
        )

        corpus = _vectors(n_vec).withColumn(
            "label", F.pmod(F.col("vec_id"), F.lit(10)).cast("int")
        )
        p = label_prototypes(corpus, dim=64)
        return nearest_prototype(corpus, p, dim=64).count()

    yield "sketch_quantiles", _sketch
    yield "nearest_prototype", _protos

    # round-8 shapes: count-min grid (pure hash-agg with a depth-way
    # pre-agg explode — should track the agg family) and the Bloom
    # runtime filter (build = grid-sized agg; probe = pure scan-side
    # codegen filter — should be ~linear in rows)
    def _cms():
        from min_flink_spark.operators.pipeline import cms_estimate, count_min_sketch

        items = ev.select(
            F.concat_ws(
                "-", F.col("event_type"), F.pmod(F.col("user_id"), F.lit(997))
            ).alias("item")
        )
        sk = count_min_sketch(items, "item")
        probes = spark.createDataFrame(
            [(f"click-{i}",) for i in range(20)], "item string"
        )
        # sum the estimates, not count(): the estimate frame's row count
        # is probe-determined, so a bare count() lets Catalyst eliminate
        # the unique-key left join and never build the grid at all
        # (verified: 0.6 s "scans" of 20M rows)
        return cms_estimate(sk, probes, "item").agg(F.sum("cms_est")).collect()

    def _bloom():
        from min_flink_spark.operators.relational import (
            bloom_bitmask,
            bloom_might_contain,
        )

        members = (
            ev.filter(F.col("event_type") == "purchase")
            .select(F.pmod(F.col("user_id"), F.lit(4096)).alias("k"))
            .distinct()
        )
        mask = bloom_bitmask(members, "k", m_bits=65536, k_hashes=3)
        return ev.filter(
            bloom_might_contain(F.pmod(F.col("user_id"), F.lit(8192)), mask, 65536, 3)
        ).count()

    def _bloom_bigm():
        from min_flink_spark.operators.relational import (
            bloom_probe_filter,
            bloom_word_frame,
        )

        members = (
            ev.filter(F.col("event_type") == "purchase")
            .select(F.pmod(F.col("user_id"), F.lit(4096)).alias("k"))
            .distinct()
        )
        words = bloom_word_frame(members, "k", m_bits=1 << 20, k_hashes=3)
        kept = bloom_probe_filter(
            ev.withColumn("k", F.pmod(F.col("user_id"), F.lit(8192))),
            "k",
            words,
            1 << 20,
            3,
        )
        # value-dependent consumption (join-elimination trap, see _cms)
        return kept.agg(F.sum("user_id")).collect()

    # round-9 shape: Misra-Gries heavy hitters — one mapInPandas pass
    # with per-batch value_counts (the r9 vectorization) + a
    # summary-sized merge; should track the Python-stage family
    # (Arrow transfer dominates, sublinear-to-linear in rows)
    def _mg():
        from min_flink_spark.operators.pipeline import misra_gries_summary

        items = ev.select(
            F.concat_ws(
                "-", F.col("event_type"), F.pmod(F.col("user_id"), F.lit(997))
            ).alias("item")
        )
        return (
            misra_gries_summary(items, "item", m=256)
            .agg(F.sum("est"))
            .collect()
        )

    # round-10 shapes: the keyed × windowed summary paths — per-(day,
    # key) partials built in ONE scan then range-merged on the
    # summary-sized frame; both should track the hash-agg family
    # (map-side combine collapses each partition to days × keys ×
    # sketch-size rows before the shuffle), with the range merge
    # contributing a constant tail
    def _kmv_keyed_windowed():
        from min_flink_spark.operators.pipeline import (
            bottom_k_sketch,
            kmv_distinct_estimate,
            merge_bottom_k,
        )

        keyed = ev.select(
            F.window("ts", "1 day").getField("start").alias("day"),
            "event_type",
            "user_id",
        )
        daily = bottom_k_sketch(keyed, ["day", "event_type"], "user_id", k=16)
        merged = merge_bottom_k([daily.drop("day")], ["event_type"], k=16)
        return (
            kmv_distinct_estimate(merged, ["event_type"], k=16)
            .agg(F.sum("distinct_est"))
            .collect()
        )

    def _bitmap_keyed_windowed():
        from min_flink_spark.operators.bitmap import (
            bitmap_index,
            bitmap_pair_ops,
            merge_bitmap_indexes,
        )

        keyed = ev.select(
            F.window("ts", "1 day").getField("start").alias("day"),
            "event_type",
            "user_id",
        )
        daily = bitmap_index(
            keyed.withColumn("_key", F.struct("day", "event_type")),
            "_key",
            "user_id",
        ).select(F.col("_key.event_type").alias("event_type"), "word", "mask")
        merged = merge_bitmap_indexes(daily)
        return (
            bitmap_pair_ops(merged, "event_type")
            .agg(F.sum("n_inter"), F.sum("n_union"))
            .collect()
        )

    yield "cms_grid_estimate", _cms
    yield "bloom_build_and_probe", _bloom
    yield "bloom_bigm_join_probe", _bloom_bigm
    yield "mg_heavy_hitters", _mg
    yield "kmv_keyed_windowed", _kmv_keyed_windowed
    yield "bitmap_keyed_windowed", _bitmap_keyed_windowed

    # round-11 shapes (VERDICT r10 item 3): the keyed × windowed
    # families SPLIT into their two stages so the stored-partials claim
    # is measured, not asserted. The *_build shapes construct and
    # MATERIALIZE the per-(day, key) partials from the raw rows — they
    # must scale ~linearly with rows (one scan + map-side-combined
    # hash agg). The *_range_merge shapes then answer a FIXED 14-day
    # range query from the stored partials alone — their input is the
    # same ~14 days × 5 types × sketch-size rows at EVERY data size
    # (the synthetic ts advances 1 s/row, so more rows = more days,
    # never denser days), so a flat-ish merge time at 4× rows is
    # direct evidence that range queries touch stored partials, never
    # history. Partials cross from build to merge via _STASH (the
    # harness runs shapes in yield order per size).
    lo = "2024-01-08"
    hi = "2024-01-22"
    day_keyed = ev.select(
        F.window("ts", "1 day").getField("start").alias("day"),
        "event_type",
        "user_id",
    )
    stash = _STASH.setdefault(rows, {})

    def _in_range(df):
        return df.filter(
            (F.col("day") >= F.lit(lo).cast("timestamp_ntz"))
            & (F.col("day") < F.lit(hi).cast("timestamp_ntz"))
        )

    def _require(st, fam):
        # a *_range_merge shape needs its *_build sibling's partials —
        # running it alone (e.g. --only range_merge) is a usage error,
        # not a KeyError deep in a plan
        if fam not in st:
            raise SystemExit(
                f"{fam}_kw_range_merge needs {fam}_kw_build to run first "
                "in the same invocation (pick an --only substring that "
                "keeps the pair together, e.g. 'kw_' or the family name)"
            )
        return st[fam]

    def _release(st, fam):
        # drop the stashed partial the moment its range_merge sibling
        # has materialized its answer — within one size the five
        # families otherwise accumulate checkpoint blocks, the exact
        # block-manager pressure the module docstring says distorts
        # later measurements (ADVICE r11)
        from min_flink_spark.core.ckpt import unpersist_checkpoint

        unpersist_checkpoint(st.pop(fam))

    def _kmv_build():
        from min_flink_spark.operators.pipeline import bottom_k_sketch

        stash["kmv"] = bottom_k_sketch(
            day_keyed, ["day", "event_type"], "user_id", k=16
        ).localCheckpoint(eager=True)
        return stash["kmv"].count()

    def _kmv_range_merge():
        from min_flink_spark.operators.pipeline import (
            kmv_distinct_estimate,
            merge_bottom_k,
        )

        rng = _in_range(_require(stash, "kmv")).drop("day")
        merged = merge_bottom_k([rng], ["event_type"], k=16)
        out = (
            kmv_distinct_estimate(merged, ["event_type"], k=16)
            .agg(F.sum("distinct_est"))
            .collect()
        )
        _release(stash, "kmv")
        return out

    def _hist_build():
        from min_flink_spark.operators.pipeline import log_histogram_sketch

        vm = F.round(F.col("value") * 1_000_000).cast("bigint")
        src = ev.select(
            F.window("ts", "1 day").getField("start").alias("day"),
            "event_type",
            vm.alias("v"),
        )
        stash["hist"] = log_histogram_sketch(
            src, ["day", "event_type"], F.col("v")
        ).localCheckpoint(eager=True)
        return stash["hist"].count()

    def _hist_range_merge():
        from min_flink_spark.operators.pipeline import sketch_quantiles

        # range-collapse the day axis AND roll the key axis up to
        # __ALL__ — the sketch_quantiles_key_rollup shape, one stored
        # artifact serving both grouping levels
        part = _in_range(_require(stash, "hist"))
        by_key = part.groupBy("event_type", "bin").agg(
            F.sum("cnt").alias("cnt")
        )
        both = by_key.unionByName(
            by_key.groupBy("bin")
            .agg(F.sum("cnt").alias("cnt"))
            .withColumn("event_type", F.lit("__ALL__"))
            .select("event_type", "bin", "cnt")
        )
        out = sketch_quantiles(both, ["event_type"], [50, 90, 99]).count()
        _release(stash, "hist")
        return out

    def _bitmap_build():
        from min_flink_spark.operators.bitmap import bitmap_index

        stash["bitmap"] = bitmap_index(
            day_keyed, ["day", "event_type"], "user_id"
        ).localCheckpoint(eager=True)
        return stash["bitmap"].count()

    def _bitmap_range_merge():
        from min_flink_spark.operators.bitmap import (
            bitmap_pair_ops,
            merge_bitmap_indexes,
        )

        merged = merge_bitmap_indexes(
            _in_range(_require(stash, "bitmap")).select("event_type", "word", "mask")
        )
        out = (
            bitmap_pair_ops(merged, "event_type")
            .agg(F.sum("n_inter"), F.sum("n_union"))
            .collect()
        )
        _release(stash, "bitmap")
        return out

    def _cms_build():
        from min_flink_spark.operators.pipeline import count_min_sketch

        items = ev.select(
            F.window("ts", "1 day").getField("start").alias("day"),
            F.concat_ws(
                "-", F.col("event_type"), F.pmod(F.col("user_id"), F.lit(997))
            ).alias("item"),
        )
        stash["cms"] = count_min_sketch(
            items, "item", keys=["day"]
        ).localCheckpoint(eager=True)
        return stash["cms"].count()

    def _cms_range_merge():
        from min_flink_spark.operators.pipeline import cms_estimate

        merged = (
            _in_range(_require(stash, "cms"))
            .groupBy("d", "w")
            .agg(F.sum("cnt").alias("cnt"))
        )
        probes = spark.createDataFrame(
            [(f"click-{i}",) for i in range(20)], "item string"
        )
        out = (
            cms_estimate(merged, probes, "item").agg(F.sum("cms_est")).collect()
        )
        _release(stash, "cms")
        return out

    def _mg_build():
        from min_flink_spark.operators.pipeline import misra_gries_summary

        items = ev.select(
            F.window("ts", "1 day").getField("start").alias("day"),
            F.concat_ws(
                "-", F.col("event_type"), F.pmod(F.col("user_id"), F.lit(997))
            ).alias("item"),
        )
        stash["mg"] = misra_gries_summary(
            items, "item", m=256, keys=["day"]
        ).localCheckpoint(eager=True)
        return stash["mg"].count()

    def _mg_range_merge():
        from min_flink_spark.operators.pipeline import merge_mg_summaries

        rng = _in_range(_require(stash, "mg"))
        merged = merge_mg_summaries(
            rng.select("item", F.col("est").alias("cnt")), 256
        )
        out = merged.agg(F.sum("est")).collect()
        _release(stash, "mg")
        return out

    yield "kmv_kw_build", _kmv_build
    yield "kmv_kw_range_merge", _kmv_range_merge
    yield "hist_kw_build", _hist_build
    yield "hist_kw_range_merge", _hist_range_merge
    yield "bitmap_kw_build", _bitmap_build
    yield "bitmap_kw_range_merge", _bitmap_range_merge
    yield "cms_kw_build", _cms_build
    yield "cms_kw_range_merge", _cms_range_merge
    yield "mg_kw_build", _mg_build
    yield "mg_kw_range_merge", _mg_range_merge

    # streaming × windowed leg (same verdict item): the CMS family's
    # streaming build — per-day grids maintained as streaming agg state
    # over the synthetic STREAM reader, availableNow to end-of-input —
    # then the same fixed-range merge. The stream is sized rows/5
    # (still 1M/4M at the defaults: the micro-batch engine re-plans per
    # batch, and the ratio between sizes is the signal, same as the
    # generation-cost note in the module docstring).
    def _streaming_cms_windowed():
        from min_flink_spark.operators.pipeline import cms_estimate, count_min_sketch
        from min_flink_spark.streaming.runner import run_to_completion

        n = max(rows // 5, 200_000)
        s = (
            spark.readStream.format("synthetic_events")
            .option("rows", str(n))
            .option("partitions", "32")
            .load()
            .select(
                F.window("ts", "1 day").getField("start").alias("day"),
                "event_type",
            )
        )
        emitted = run_to_completion(
            count_min_sketch(s, "event_type", depth=4, width=128, keys=["day"]),
            output_mode="update",
            timeout_sec=600,
        )
        grids = emitted.groupBy("day", "d", "w").agg(F.max("cnt").alias("cnt"))
        merged = (
            _in_range(grids).groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))
        )
        probes = spark.createDataFrame([(t,) for t in ("click", "purchase")],
                                       "event_type string")
        return (
            cms_estimate(merged, probes, "event_type")
            .agg(F.sum("cms_est"))
            .collect()
        )

    yield "streaming_cms_windowed", _streaming_cms_windowed

    # the r11 composite-key STATEFUL path: bottom-16 sketches keyed on
    # (day, event_type) maintained by the Python state store
    # (applyInPandasWithState) over the synthetic stream — unlike the
    # CMS leg (a JVM streaming agg) every row here crosses the Arrow
    # boundary into the per-key process function, so this measures the
    # Python-stateful family's row scaling. Same rows/5 sizing as the
    # CMS leg; 8 state partitions (the query default).
    def _streaming_kmv_keyed_windowed():
        from min_flink_spark.operators.pipeline import (
            kmv_distinct_estimate,
            merge_bottom_k,
        )
        from min_flink_spark.streaming.runner import (
            run_to_completion,
            shuffle_partitions,
        )
        from min_flink_spark.streaming.sketches import streaming_bottom_k

        n = max(rows // 5, 200_000)
        s = (
            spark.readStream.format("synthetic_events")
            .option("rows", str(n))
            .option("partitions", "32")
            .load()
            .select(
                F.window("ts", "1 day").getField("start").alias("day"),
                "event_type",
                "user_id",
            )
        )
        with shuffle_partitions(spark, 8):
            emitted = run_to_completion(
                streaming_bottom_k(
                    s,
                    ["day", "event_type"],
                    "day timestamp_ntz, event_type string",
                    "user_id",
                    k=16,
                ),
                output_mode="update",
                timeout_sec=600,
            )
        rng = _in_range(emitted).drop("day")
        merged = merge_bottom_k([rng], ["event_type"], k=16)
        return (
            kmv_distinct_estimate(merged, ["event_type"], k=16)
            .agg(F.sum("distinct_est"))
            .collect()
        )

    yield "streaming_kmv_keyed_windowed", _streaming_kmv_keyed_windowed

    # r12 sibling: the SECOND Python-stateful composite-key path —
    # MGFunction keyed on (day, user-segment) (the
    # streaming_mg_keyed_windowed_top_events shape). Differs from the
    # KMV leg in the state transition (dict counter merge vs sorted
    # bottom-k) and the emission collapse (last-writer by version),
    # so its slope pins the Python-stateful family from a second
    # angle. Same rows/5 sizing, same 8 state partitions.
    def _streaming_mg_keyed_windowed():
        from min_flink_spark.operators.pipeline import merge_mg_summaries
        from min_flink_spark.streaming.runner import (
            run_to_completion,
            shuffle_partitions,
        )
        from min_flink_spark.streaming.sketches import (
            latest_mg_emissions,
            streaming_misra_gries,
        )

        n = max(rows // 5, 200_000)
        s = (
            spark.readStream.format("synthetic_events")
            .option("rows", str(n))
            .option("partitions", "32")
            .load()
            .select(
                F.window("ts", "1 day").getField("start").alias("day"),
                F.pmod(F.col("user_id"), F.lit(3)).alias("seg"),
                "event_type",
            )
        )
        with shuffle_partitions(spark, 8):
            emitted = run_to_completion(
                streaming_misra_gries(
                    s,
                    ["day", "seg"],
                    "day timestamp_ntz, seg bigint",
                    "event_type",
                    m=16,
                ),
                output_mode="update",
                timeout_sec=600,
            )
        latest = latest_mg_emissions(emitted, ["day", "seg"])
        merged = merge_mg_summaries(
            _in_range(latest).select("seg", "item", "cnt"), 16, keys=["seg"]
        )
        return merged.agg(F.sum("est")).collect()

    yield "streaming_mg_keyed_windowed", _streaming_mg_keyed_windowed


def main() -> None:
    args = sys.argv[1:]
    only: list[str] = []
    while "--only" in args:
        i = args.index("--only")
        if i + 1 >= len(args):
            raise SystemExit("usage: --only SUBSTR (missing value)")
        only.append(args[i + 1])
        del args[i : i + 2]
    small = int(args[0]) if len(args) > 0 else 5_000_000
    big = int(args[1]) if len(args) > 1 else 20_000_000
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    register_synthetic_source(spark)
    # warm the generation + codegen paths once
    events(spark, 200_000).groupBy("event_type").count().collect()
    results = {}
    names = []
    for rows in (small, big):
        # free the PREVIOUS size's stash partials before this size runs
        # — superseded checkpoint blocks otherwise pile up in the block
        # manager and distort later materializations (module docstring)
        from min_flink_spark.core.ckpt import unpersist_checkpoint

        for sz, d in list(_STASH.items()):
            if sz != rows:
                for df in d.values():
                    unpersist_checkpoint(df)
                del _STASH[sz]
        for name, fn in shapes(spark, rows):
            if only and not any(s in name for s in only):
                continue
            if rows == small:
                names.append(name)
            t0 = time.time()
            fn()
            dt = round(time.time() - t0, 2)
            results[(name, rows)] = dt
            print(json.dumps({"shape": name, "rows": rows, "sec": dt}), flush=True)
    print(json.dumps({
        "ratio_rows": big / small,
        "ratios": {
            name: round(results[(name, big)] / results[(name, small)], 2)
            for name in names
        },
    }))


if __name__ == "__main__":
    main()
