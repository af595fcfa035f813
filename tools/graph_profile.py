"""Per-query wall time + Spark-JOB count profiler (guide §1.1/§1.5).

The iterative graph family's cost hypothesis (VERDICT r14 item 1) is
"jobs per round", which the sweep's wall numbers cannot see. This tool
times each named query with the noop sink AND counts the Spark jobs it
launched (via a per-query job group + StatusTracker), so a fused
convergence probe shows up as a measured job-count drop, not a story.

The copurchase warehouse table is REMOVED first by default (clean-
warehouse discipline, VERDICT r14 item 6) so graph numbers never ride a
prior session's bucketed build; pass --keep-warehouse to measure the
warm-table path instead. Each rep clears the session cache so one
query's persist never feeds another's timing (VERDICT r14 item 5).

Usage::

    python tools/graph_profile.py [sf_dir] [--reps N] [--keep-warehouse] [query ...]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from min_flink_spark.queries import QUERIES  # noqa: E402
from min_flink_spark.session import get_spark  # noqa: E402

DEFAULT = [
    "dedup_clusters",
    "semantic_dedup_survivors",
    "dedup_keep_best",
    "triangle_counts_copurchase",
    "pagerank_copurchase",
    "bfs_reach_copurchase",
    "kcore_copurchase",
    "lpa_communities_copurchase",
    "ann_ivf_topk",
]


def _arg(flag: str, default: str) -> str:
    if flag in sys.argv:
        i = sys.argv.index(flag)
        v = sys.argv[i + 1]
        del sys.argv[i : i + 2]
        return v
    return default


def main() -> None:
    reps = int(_arg("--reps", "2"))
    keep_wh = "--keep-warehouse" in sys.argv
    if keep_wh:
        sys.argv.remove("--keep-warehouse")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or DEFAULT

    spark = get_spark(app_name="graph-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def clean_warehouse() -> None:
        for d in glob.glob(os.path.join(wh, "mfs_copurchase_*")):
            shutil.rmtree(d, ignore_errors=True)
        for t in spark.catalog.listTables():
            if t.name.startswith("mfs_copurchase_"):
                spark.sql(f"DROP TABLE {t.name}")

    # clean ONCE up front: the first rep that needs the copurchase table
    # pays the build (recorded), later reps measure the warm-table
    # iterative work, which is what the jobs/round hypothesis is about
    if not keep_wh:
        clean_warehouse()

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        per_rep = []
        for r in range(reps):
            spark.catalog.clearCache()
            group = f"{name}-rep{r}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            n_stages = 0
            for j in jobs:
                info = sc.statusTracker().getJobInfo(j)
                if info is not None:
                    n_stages += len(info.stageIds)
            per_rep.append({"sec": round(dt, 3), "jobs": len(jobs),
                            "stages": n_stages})
        out[name] = {
            "min_sec": min(p["sec"] for p in per_rep),
            "jobs": per_rep[-1]["jobs"],
            "stages": per_rep[-1]["stages"],
            "reps": per_rep,
        }
        print(f"{out[name]['min_sec']:8.3f}s  {out[name]['jobs']:4d} jobs "
              f"{out[name]['stages']:4d} stages  {name}", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "clean_warehouse": not keep_wh,
                      "queries": out}))


if __name__ == "__main__":
    main()
