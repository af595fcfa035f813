"""The iteration driver: the one loop every iterative operator runs on.

Iterative dataflow (DataStream.iterate in full Flink, absent from the
trim) maps onto a driver-side loop over DataFrames. Run naively, each
round's plan nests the previous one, so round k plans an O(k)-deep
lineage. ``iterate_rounds`` owns the discipline that makes iteration
scale, for ``iterate_fixed_point`` and the graph operators (connected
components, BFS, k-core, label propagation):

- every round is materialized with ``localCheckpoint``, so each round
  plans O(1) work;
- a convergence probe (a ``Column`` aggregate over the new state)
  rides the materializing job itself, so loop exit costs no extra job;
- the superseded round's checkpoint is freed, so at most two state
  copies are live; only the probe's scalar reaches the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation

from min_flink_spark.core.ckpt import unpersist_checkpoint


def materialize_with_metrics(
    df: DataFrame, *metrics: Column
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` AND collect the aliased aggregate ``metrics``
    over it in ONE Spark job (a separate probe costs a 2-job AQE
    aggregate). ``localCheckpoint(eager=False)`` marks the plan's RDD;
    the noop write computes and persists every partition, while an
    ``observe`` node on the same plan collects the metrics. Returns the
    checkpointed frame (releasable via ``unpersist_checkpoint``) and the
    raw metric values by alias (NULL on an empty frame)."""
    ck = df.localCheckpoint(eager=False)
    obs = Observation()
    ck.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    return ck, obs.get


def _materialize_with_metric(df: DataFrame, metric: Column) -> tuple[DataFrame, int]:
    """``materialize_with_metrics`` for one integer probe; a NULL (the
    aggregate of an empty frame) reads as 0."""
    ck, got = materialize_with_metrics(df, metric.alias("m"))
    return ck, int(got["m"] or 0)


def iterate_rounds(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    *,
    probe: Callable[[int], Column] | None = None,
    changed: Callable[[DataFrame, DataFrame], int] | None = None,
    checkpoint_initial: bool = True,
    trajectory: list[DataFrame] | None = None,
    strict: bool = False,
) -> DataFrame:
    """Run ``state = step(state, i)`` for rounds ``i = 1..max_rounds``
    and return the last (checkpointed) state.

    Stopping: ``probe(i)`` is an aggregate over round ``i``'s new state,
    collected in the job that materializes it; ``changed(old, new)`` is
    the alternative, a test run after materialization. The loop stops
    as soon as the one given reads 0. With neither, all rounds run; with
    ``strict``, running out of rounds before a stop raises.

    Ownership: with ``checkpoint_initial`` the initial state is
    checkpointed here and freed once round 1 supersedes it; otherwise
    it is used as given (lazy, or the caller's) and never freed. Each
    round's checkpoint is freed when the next round supersedes it,
    unless ``trajectory`` is given: then every round's frame is
    appended to it and stays persisted for the caller to release."""
    owned = checkpoint_initial
    if owned:
        state = state.localCheckpoint(eager=True)
    for i in range(1, max_rounds + 1):
        nxt = step(state, i)
        if probe is None:
            new, n = nxt.localCheckpoint(eager=True), None
        else:
            new, n = _materialize_with_metric(nxt, probe(i))
        if changed is not None:
            n = changed(state, new)
        if trajectory is not None:
            trajectory.append(new)
        elif owned:
            # Dataset.unpersist() is a no-op for localCheckpointed
            # frames on Spark 4.1.2 — free the checkpoint RDD directly
            unpersist_checkpoint(state)
        state, owned = new, True
        if n == 0:
            return state
    if strict:
        if owned and trajectory is None:
            unpersist_checkpoint(state)
        raise RuntimeError(
            f"iteration did not converge within {max_rounds} rounds; "
            "raise max_iter or pass strict=False"
        )
    return state


def iterate_fixed_point(
    initial: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iter: int = 50,
    strict: bool = True,
) -> DataFrame:
    """Apply ``step`` repeatedly until a fixed point (or ``max_iter``).

    ``step`` must be a pure function of its input state DataFrame and
    return a DataFrame with the SAME schema. The step reached a fixed
    point when the new state has no row outside the old state (multiset
    compare via exceptAll, short-circuited by limit(1)). With
    ``strict`` (default) non-convergence raises instead of returning a
    silently unfinished state."""
    return iterate_rounds(
        initial,
        lambda state, _: step(state),
        max_iter,
        changed=lambda old, new: new.exceptAll(old).limit(1).count(),
        strict=strict,
    )
