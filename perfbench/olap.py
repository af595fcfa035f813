"""``olap`` workload: a closed loop of one client running registry queries
back to back over a seeded star schema, each result collected.

Every result is checked against its DuckDB ``ORACLE`` twin with the
digest of ``tools/check_oracle.py``.
"""

from __future__ import annotations

import duckdb

QUERY_NAMES = (
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority",
    "left_join_order_item_stats",
    "window_rank_lag",
    "session_window_4h",
    "tumbling_window_daily",
    "pivot_event_counts",
)
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")


def oracle_digests(data_dir: str) -> dict[str, tuple[int, list[str], str]]:
    """(row count, sorted columns, digest) of each query's DuckDB twin."""
    import min_flink_spark.queries  # noqa: F401 - registers the queries
    from min_flink_spark.registry import ORACLE
    from tools import check_oracle as co

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in QUERY_NAMES:
            odf = con.execute(ORACLE[name]).fetchdf()
            cols = list(odf.columns)
            rows = [
                tuple(None if co._is_pd_na(v) else co._from_pd(v) for v in rec)
                for rec in odf.itertuples(index=False, name=None)
            ]
            out[name] = (len(rows), sorted(cols), co.digest(cols, rows))
        return out
    finally:
        con.close()


def check_result(name: str, cols: list[str], rows: list, oracle: dict) -> list[str]:
    from tools import check_oracle as co

    n, ocols, odigest = oracle[name]
    if len(rows) != n:
        return [f"{len(rows)} rows, oracle {n}"]
    if sorted(cols) != ocols:
        return [f"columns {sorted(cols)}, oracle {ocols}"]
    if co.digest(cols, [tuple(r) for r in rows]) != odigest:
        return ["value digest differs from the oracle"]
    return []


def run_query(spark, data_dir: str, name: str, tracer):
    """Build and collect one query; returns (seconds, cols, rows)."""
    import time

    from min_flink_spark.queries import QUERIES

    with tracer.span("olap.query", query=name):
        t0 = time.perf_counter()
        with tracer.span("queries.build", query=name):
            df = QUERIES[name](spark, data_dir)
        with tracer.span("queries.execute", query=name):
            rows = df.collect()
        seconds = time.perf_counter() - t0
    return seconds, df.columns, rows
