"""Full-registry per-query timing sweep for optimization rounds.

Times EVERY registry query at the given SF with the noop sink (guide
§1.4: eagerly computes every column of every row, discards the result —
so the number is the computation, not the driver-collect transfer the
bench's sf0.1 convention carries for history compatibility). One warmup
pass of the full set at the sibling sf0.001 absorbs JIT/codegen/worker
startup, mirroring bench.py. Jobs are labelled (guide §1.5) so a live
Spark UI session maps wall time back to queries.

Usage::

    python tools/opt_sweep.py [sf_dir] [--reps N] [--out FILE.json]

Output: one JSON object {query: min_sec} sorted descending, plus a
ranked table on stderr. This is a diagnostic for the optimization
checklist, not a driver artifact — bench.py stays the contract.

r15 isolation fixes (VERDICT r14 items 5 + 6):

- ``spark.catalog.clearCache()`` runs between timed queries, so no
  number rides another query's session cache (the r14 sweep timed
  dedup_clusters at 6.3 s because ngram_jaccard_pairs had already
  populated the shingle persist; cold it is ~3× that). Pass
  ``--keep-cache`` for the old warm-session behavior.
- the copurchase bucketed warehouse table is DROPPED once at startup
  (clean-warehouse discipline), and the artifact records it, so graph
  numbers are reproducible instead of depending on whether a prior
  session left the table behind. Pass ``--keep-warehouse`` to measure
  the warm-table path.
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


def _arg(flag: str, default: str) -> str:
    if flag in sys.argv:
        i = sys.argv.index(flag)
        v = sys.argv[i + 1]
        del sys.argv[i : i + 2]
        return v
    return default


def main() -> None:
    reps = int(_arg("--reps", "2"))
    out_path = _arg("--out", "")
    keep_cache = "--keep-cache" in sys.argv
    if keep_cache:
        sys.argv.remove("--keep-cache")
    keep_wh = "--keep-warehouse" in sys.argv
    if keep_wh:
        sys.argv.remove("--keep-warehouse")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:] or list(QUERIES)

    spark = get_spark(app_name="opt-sweep")
    spark.sparkContext.setLogLevel("ERROR")

    warehouse_cleaned = False
    if not keep_wh:
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        stale = glob.glob(os.path.join(wh, "mfs_copurchase_*"))
        for d in stale:
            shutil.rmtree(d, ignore_errors=True)
        for t in spark.catalog.listTables():
            if t.name.startswith("mfs_copurchase_"):
                spark.sql(f"DROP TABLE {t.name}")
        warehouse_cleaned = True
        if stale:
            print(f"dropped stale warehouse tables: {len(stale)}", file=sys.stderr)

    def run(name: str, d: str) -> float:
        if not keep_cache:
            # each query pays its own persists — no riding another
            # query's session cache (the timed region still includes
            # any within-query cache builds, as a cold driver run would)
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[name](spark, d).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
        for name in only:
            spark.sparkContext.setJobDescription(f"warmup {name}")
            run(name, warm_dir)

    best: dict[str, float] = {}
    for r in range(reps):
        for name in only:
            spark.sparkContext.setJobDescription(f"sweep {name} rep{r}")
            t = run(name, sf_dir)
            if name not in best or t < best[name]:
                best[name] = t
    spark.sparkContext.setJobDescription(None)

    ranked = dict(sorted(best.items(), key=lambda kv: -kv[1]))
    for name, t in ranked.items():
        print(f"{t:8.3f}  {name}", file=sys.stderr)
    total = sum(best.values())
    print(f"{total:8.3f}  TOTAL ({len(best)} queries)", file=sys.stderr)
    payload = {"sf_dir": sf_dir, "reps": reps, "total_sec": round(total, 3),
               "clear_cache_between_queries": not keep_cache,
               "warehouse_cleaned_at_start": warehouse_cleaned,
               "queries": {k: round(v, 3) for k, v in ranked.items()}}
    print(json.dumps(payload))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)


if __name__ == "__main__":
    main()
