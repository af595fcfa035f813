"""Keyed stateful processing — the reference's hardest-to-map feature.

The reference's contract (SURVEY §2.8): per-key ``ValueState`` (the only
state kind, ``FC/api/common/state/KeyedStateStore.java:74``), a
continuously-emitting keyed reduce (``StreamGroupedReduce.java:11-54``),
and a vestigial ``KeyedProcessFunction`` (``FSJ/api/functions/
KeyedProcessFunction.java`` — processElement + onTimer, never wired to
the API).

Two Spark-side operators, both keeping per-key state in Spark's
batch-versioned state store (a replayed batch reads the same snapshot):

- the built-in keyed reduce (``RunningReduceFunction``: sum/min/max over
  bigint or double) runs as a JVM ``flatMapGroupsWithState`` operator
  (``RunningReduce.java``, compiled and attached by ``jvm.py`` on first
  use) — no Python worker, no Arrow round trip;
- a user ``KeyedProcessFunction`` runs through ``applyInPandasWithState``:
  per-key GroupState + processing-time timeouts, Arrow-batched.

``process_keyed`` wires either into a streaming plan. A
``KeyedProcessFunction``'s state is a single Row matching
``state_schema`` (= ValueState semantics); ``on_timeout`` ≈ the
reference's timer callback (processing-time only — exactly the trim's
capability, ``StreamSourceContexts.java:41-47``).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegralType

from min_flink_spark.streaming import jvm


class KeyedProcessFunction:
    """Subclass and override. Rows arrive as pandas DataFrames per key;
    ``state`` is a tuple (or None on first call) matching state_schema."""

    #: Spark DDL schema strings
    state_schema: str = ""
    output_schema: str = ""
    #: When True, all Arrow chunks of a key's batch are concatenated
    #: before process_element — REQUIRED for order-sensitive logic
    #: (chunks arrive in shuffle order, split at
    #: spark.sql.execution.arrow.maxRecordsPerBatch; sorting within a
    #: chunk is not sorting within the batch). Costs one key-group in
    #: memory, same bound as applyInPandas.
    needs_full_group: bool = False

    def process_element(
        self, key: tuple, rows: pd.DataFrame, state: tuple | None
    ) -> tuple[pd.DataFrame | None, tuple | None]:
        """Return (output rows or None, new state or None-to-clear)."""
        raise NotImplementedError

    def on_timeout(self, key: tuple, state: tuple | None) -> tuple[pd.DataFrame | None, tuple | None]:
        return None, None


def process_keyed(
    df: DataFrame,
    keys: list[str],
    fn: KeyedProcessFunction | RunningReduceFunction,
    output_mode: str = "update",
    timeout_ms: int | None = None,
) -> DataFrame:
    """Wire a KeyedProcessFunction or a RunningReduceFunction into a
    (streaming) grouped plan.

    A ``RunningReduceFunction`` runs as the JVM stateful operator
    ``RunningReduce.java`` (``flatMapGroupsWithState``); it raises
    ``ValueError`` unless ``keys == [fn.key_col]``, ``timeout_ms`` is
    None and ``output_mode`` is ``"update"``. Any other function runs
    through ``applyInPandasWithState``.

    One shuffle on the key; state lives in the executor-side state store
    partitioned identically, so a key's records and state are always
    co-located — the same layout the reference builds with key-group
    hash partitioning (KeyGroupStreamPartitioner.java:32-56).

    Partition-count note: the stateful shuffle width is fixed at the
    query's FIRST run (state stores cannot re-partition); each partition
    costs a state-store instance per batch (plus an Arrow/Python round
    trip on the ``applyInPandasWithState`` path).
    Wrap query start in ``runner.shuffle_partitions(spark, n)`` to size
    it to key volume rather than the batch default."""
    if isinstance(fn, RunningReduceFunction):
        return _running_reduce(df, keys, fn, output_mode, timeout_ms)

    def _handle(key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        current: tuple | None = tuple(state.get) if state.exists else None
        if state.hasTimedOut:
            out, new_state = fn.on_timeout(key, current)
            if new_state is None:
                state.remove()
            else:
                state.update(new_state)
                if timeout_ms is not None:
                    state.setTimeoutDuration(timeout_ms)
            if out is not None and len(out):
                yield out
            return
        if fn.needs_full_group:
            chunks = [p for p in pdf_iter if len(p)]
            if chunks:
                merged = chunks[0] if len(chunks) == 1 else pd.concat(chunks)
                out, current = fn.process_element(key, merged, current)
                if out is not None and len(out):
                    yield out
        else:
            for pdf in pdf_iter:
                out, current = fn.process_element(key, pdf, current)
                if out is not None and len(out):
                    yield out
        if current is None:
            if state.exists:
                state.remove()
        else:
            state.update(current)
            # A live timeout keeps the micro-batch engine scheduling
            # batches until it fires — register one only while state
            # exists, or an AvailableNow run never terminates.
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy(*keys).applyInPandasWithState(
        _handle,
        outputStructType=fn.output_schema,
        stateStructType=fn.state_schema,
        outputMode=output_mode,
        timeoutConf=timeout_conf,
    )


class RunningReduceFunction:
    """Spec of the reference's continuous keyed reduce, exactly: per
    input record, state ← reduce(state, value) and the updated partial
    is emitted (StreamGroupedReduce.java:35-53; first record emitted
    as-is). Order within a batch = ``order_col``; ties keep arrival
    order (a stable sort).

    ``process_keyed`` runs it as the JVM operator in
    ``RunningReduce.java``: ``key_col`` and ``order_col`` must be
    integral columns (emitted as bigint), ``value_type`` is ``bigint``
    or ``double`` and the key list must be ``[key_col]``. A null key,
    order or value fails the query.
    """

    def __init__(
        self,
        key_col: str,
        order_col: str,
        value_col: str,
        op: str = "sum",
        value_type: str = "double",
    ):
        if op not in ("sum", "min", "max"):
            raise ValueError(f"unsupported running-reduce op: {op!r}")
        # bigint values → exact int64 state: a running DOUBLE sum is
        # accumulation-order-dependent and can't be replayed bit-exactly
        # by another engine; fixed-point callers pre-scale to ints
        if value_type not in ("bigint", "double"):
            raise ValueError(f"unsupported running-reduce value_type: {value_type!r}")
        self.key_col, self.order_col, self.value_col, self.op = key_col, order_col, value_col, op
        self.value_type = value_type
        self.output_schema = (
            f"{key_col} bigint, {order_col} bigint, "
            f"{value_col} {value_type}, running {value_type}"
        )


_RUNNING_REDUCE_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "RunningReduce.java"
)


def _running_reduce(
    df: DataFrame, keys: list[str], fn: RunningReduceFunction, output_mode: str,
    timeout_ms: int | None,
) -> DataFrame:
    if list(keys) != [fn.key_col]:
        raise ValueError(
            f"running reduce groups by its key_col {fn.key_col!r} alone, got keys {keys!r}"
        )
    if timeout_ms is not None:
        raise ValueError("running reduce state never times out; timeout_ms is not supported")
    if output_mode != "update":
        raise ValueError(f"running reduce emits in update mode only, got {output_mode!r}")
    for c in (fn.key_col, fn.order_col):
        if not isinstance(df.schema[c].dataType, IntegralType):
            raise ValueError(
                f"running reduce needs an integral {c!r}, "
                f"got {df.schema[c].dataType.simpleString()}"
            )
    spark = df.sparkSession
    jvm.attach(spark, _RUNNING_REDUCE_SOURCE)
    events = df.select(
        F.col(fn.key_col).cast("bigint"),
        F.col(fn.order_col).cast("bigint"),
        F.col(fn.value_col).cast(fn.value_type),
    )
    op = spark._jvm.min_flink_spark.streaming.RunningReduce
    return DataFrame(op.plan(events._jdf, fn.op), spark)
