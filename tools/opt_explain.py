"""Dump ``explain("formatted")`` for registry queries to files.

Usage::

    python tools/opt_explain.py <out_dir> <suffix> [sf_dir] [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` per query (e.g. suffix
``before``/``after`` for optimization-round plan evidence). Plan-only —
nothing is executed. Queries whose plan exists only inside a running
StreamingQuery are skipped with a note (same convention as
tools/plan_audit.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from min_flink_spark.queries import QUERIES  # noqa: E402
from min_flink_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    names = sys.argv[4:] or list(QUERIES)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="opt-explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = QUERIES[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # streaming-only plans, env gates
            txt = f"(plan unavailable: {type(e).__name__}: {e})\n"
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
