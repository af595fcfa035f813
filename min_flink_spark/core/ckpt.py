"""Targeted block release for ``localCheckpoint``-ed DataFrames.

The iteration driver (``operators/iterate.py:iterate_rounds``, which
runs connected components, BFS, k-core, label propagation and
``iterate_fixed_point``) re-checkpoints the state every round so the
lineage stays O(1); without freeing the superseded round the persisted
blocks grow as rounds × state size. On Spark 4.1.2
``DataFrame.unpersist()`` is a NO-OP for localCheckpointed frames (the
persistence belongs to the internal checkpointed RDD, not the Dataset's
cache entry — proven by tests/test_streaming.py's storage-registry
check), so the release must target the underlying RDD.

``unpersist_checkpoint(df)`` walks the analyzed plan's leaves, finds
every ``LogicalRDD`` (the node a checkpoint rewrites the plan to) whose
RDD is actually persisted, and unpersists those RDDs directly — the
frame's OWN blocks, never a context-wide sweep, so concurrent queries
sharing the SparkContext are untouched (the defect in the registry-
delta approach this replaces).

After release the frame is unrecomputable (checkpoint truncated its
lineage) — only call this once every consumer of the frame has run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_rdd_ids(df: DataFrame) -> list[int]:
    """Ids of the persisted checkpoint RDDs backing ``df``'s plan."""
    return [r.id() for r in _checkpoint_jrdds(df)]


def unpersist_checkpoint(df: DataFrame, blocking: bool = False) -> int:
    """Free ``df``'s localCheckpoint blocks; returns #RDDs released.

    SCOPE WARNING (ADVICE r7): this frees EVERY persisted LogicalRDD
    leaf in ``df``'s analyzed plan, not only blocks ``df`` itself
    created. Pass a frame YOU checkpointed (its plan is then the single
    LogicalRDD of that checkpoint). Passing a DERIVED frame whose plan
    joins someone else's still-needed checkpointed DataFrame releases
    the other frame's blocks too and makes it unrecomputable (a
    checkpoint truncates lineage — there is nothing to rebuild from).
    Every in-repo caller passes self-checkpointed frames; keep it that
    way."""
    rdds = _checkpoint_jrdds(df)
    for r in rdds:
        r.unpersist(blocking)
    return len(rdds)


def attach_backing(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Expose the internal checkpointed frames a lazy ``result`` still
    reads from as ``result._graft_backing``, so callers can free their
    blocks deterministically AFTER consuming the result (the operator
    itself cannot — the result is lazy). See ``release_backing``."""
    result._graft_backing = list(frames)
    return result


def carry_backing(result: DataFrame, *sources: DataFrame) -> DataFrame:
    """Move the ``_graft_backing`` handles of ``sources`` onto
    ``result`` — for query wrappers whose final ``select``/``top_k``
    returns a NEW DataFrame that silently drops the attribute (the
    ADVICE r7 pagerank/triangles leak: the operator attached the
    handle, the wrapper's projection lost it, and the gate could never
    release). TRUE move semantics: each source's handle is removed
    after the copy, so a caller that ``release_backing``s an
    intermediate frame cannot free checkpoint blocks the carried
    result still reads from (the unrecomputable-frame hazard
    ``unpersist_checkpoint`` warns about). Sources without a handle
    contribute nothing.

    SINGLE-CARRY contract (ADVICE r9): carrying from a source whose
    handle was already moved raises — the second carry would silently
    get nothing and whoever releases the second result would leak the
    blocks for the session. The emptied source is marked with a
    ``_Carried`` sentinel (an empty-list subclass, so an accidental
    ``release_backing`` on the drained source stays a 0-release no-op
    instead of crashing)."""
    frames: list[DataFrame] = []
    for s in sources:
        b = getattr(s, "_graft_backing", None)
        if isinstance(b, _Carried):
            raise RuntimeError(
                "carry_backing: source's backing was already carried — "
                "a handle moves exactly once (single-carry contract); "
                "carry the RESULT of the first carry instead"
            )
        if isinstance(b, DataFrame):
            frames.append(b)
        elif b:
            frames.extend(b)
        if b is not None:
            s._graft_backing = _Carried()
    return attach_backing(result, *frames)


def add_backing(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Append ``frames`` to ``result``'s existing backing (creating it
    when absent) — for operators that carry backing from sources AND
    checkpoint frames of their own. Unlike reaching into
    ``result._graft_backing`` directly (the ADVICE r13 finding), this
    stays correct if the backing representation changes (single-frame
    form) and refuses to resurrect a drained ``_Carried`` source."""
    b = getattr(result, "_graft_backing", None)
    if isinstance(b, _Carried):
        raise RuntimeError(
            "add_backing: target's backing was already carried away — "
            "add to the RESULT of the carry, not the drained source"
        )
    existing: list[DataFrame]
    if b is None:
        existing = []
    elif isinstance(b, DataFrame):
        existing = [b]
    else:
        existing = list(b)
    return attach_backing(result, *existing, *frames)


class _Carried(list):
    """Marker left on a source after ``carry_backing`` moved its
    handle: falsy/iterable like the empty list it replaces (so
    ``release_backing`` on the drained source is still a no-op), but
    distinguishable so a SECOND carry fails loudly instead of silently
    carrying nothing."""


def release_backing(result: DataFrame, blocking: bool = False) -> int:
    """Free the checkpoint blocks behind ``result._graft_backing``
    (a frame or list of frames; no-op when absent). Call only after the
    result's last action — the backing is unrecomputable afterwards.
    Returns #RDDs released."""
    frames = getattr(result, "_graft_backing", None)
    if frames is None:
        return 0
    if isinstance(frames, DataFrame):
        frames = [frames]
    return sum(unpersist_checkpoint(f, blocking) for f in frames)


def _checkpoint_jrdds(df: DataFrame):
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = []
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if node.getClass().getSimpleName() != "LogicalRDD":
            continue
        rdd = node.rdd()
        if rdd.getStorageLevel().isValid():
            out.append(rdd)
    return out
