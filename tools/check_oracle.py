"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and an order-insensitive canonicalized value digest (floats
rounded to 6dp per FIXTURES §3). With ``--strict``, floats compare at
FULL precision (``repr``) — the driver's gate does NOT round, so a
query is only safely green when it passes strict too. Usage:

    python tools/check_oracle.py [--strict] [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from datetime import date, datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from min_flink_spark.core.ckpt import release_backing
from min_flink_spark.session import get_spark
from min_flink_spark.sources import TABLES

STRICT = False


def _is_pd_na(v) -> bool:
    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, np.ndarray, dict)):
        return False
    # NaN in a float column IS SQL NULL here: fetchdf materializes
    # DuckDB NULL doubles as NaN (the null mask is lost), and no query
    # emits a genuine NaN — verified green against the driver, which
    # makes the same equation. Int-vs-float dtype sensitivity (the
    # HUGEINT class) is preserved for non-null values.
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def _from_pd(v):
    """Normalize a pandas cell to the Python type Spark's collect() yields."""
    import numpy as np
    import pandas as pd

    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.ndarray):
        return [_from_pd(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_from_pd(x) for x in v]
    return v


def canon_value(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if STRICT:
            return repr(v)
        return f"{round(v, 6):.6f}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    global STRICT
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    STRICT = len(argv) != len(sys.argv) - 1
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import importlib

    entry = importlib.import_module("__spark_entry__")
    qs, oracles = entry.queries(), entry.oracle_sql()

    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            # The driver's canonicalizer pandas-sorts every output column
            # and crashes on list/dict cells (round-3 red rows on
            # ARRAY<BIGINT>), so any top-level array/map/struct column is
            # an automatic driver red even when values match. Mirror
            # that: reject non-scalar output schemas outright.
            bad = [
                f.name
                for f in sdf.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct", "variant")
            ]
            if bad:
                failures.append(name)
                print(
                    f"FAIL  {name}: non-scalar output column(s) {bad} — "
                    "the driver's canonicalizer crashes on these; "
                    "stringify (concat_ws / array_to_string) on both sides"
                )
                continue
            srows = [tuple(r) for r in sdf.collect()]
            # free any checkpoint blocks the lazy result was still
            # reading (graph-family queries attach release handles);
            # without this a full 200-query session pins 3 corpus-sized
            # frames per graph query (VERDICT r7 item 6)
            release_backing(sdf)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}", flush=True)
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows", flush=True)
            continue
        try:
            cur = con.execute(oracles[name])
            # fetchdf (pandas) is dtype-faithful: DuckDB HUGEINT (the
            # result type of sum(BIGINT)) materializes as float64 here,
            # exactly as in the driver's gate — fetchall() would hide it
            # by converting HUGEINT to Python int.
            odf = cur.fetchdf()
            ocols = list(odf.columns)
            orows = [
                tuple(None if _is_pd_na(v) else _from_pd(v) for v in rec)
                for rec in odf.itertuples(index=False, name=None)
            ]
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}", flush=True)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} vs {sorted(ocols)}")
        elif digest(scols, srows) != digest(ocols, orows):
            problems.append("value-hash mismatch")
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name} ({len(srows)} rows)", flush=True)

    ran = [n for n in qs if not only or n in only]
    print(f"\n{len(ran) - len(failures)}/{len(ran)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
