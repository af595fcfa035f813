"""Block-lifetime tests for the iterative operators (VERDICT r6 item 4
+ ADVICE r6 medium): DataFrame.unpersist() is a NO-OP for
localCheckpointed frames on Spark 4.1.2, so every iterative loop must
free superseded rounds via core.ckpt.unpersist_checkpoint (targeted at
the frame's own checkpoint RDD — never a context-wide sweep). These
tests pin that contract at the JVM persistent-RDD registry level."""

import pyspark.sql.functions as F
import pytest

from min_flink_spark.core.ckpt import checkpoint_rdd_ids, unpersist_checkpoint
from min_flink_spark.streaming.runner import _persistent_rdd_ids


def _jsc(spark):
    return spark.sparkContext._jsc.sc()


def test_unpersist_checkpoint_is_targeted(spark):
    """Freeing one checkpointed frame must not touch another's blocks
    (the context-wide registry-delta approach would)."""
    before = _persistent_rdd_ids(_jsc(spark))
    a = spark.range(10).localCheckpoint(eager=True)
    b = spark.range(20).localCheckpoint(eager=True)
    assert unpersist_checkpoint(a) == 1
    now = _persistent_rdd_ids(_jsc(spark))
    assert set(checkpoint_rdd_ids(b)) <= now
    assert a._jdf.queryExecution().analyzed().collectLeaves().apply(0).rdd().id() not in now
    unpersist_checkpoint(b)
    assert _persistent_rdd_ids(_jsc(spark)) == before


def test_dataset_unpersist_is_still_a_noop_here(spark):
    """The premise the helper exists for: if a Spark upgrade makes
    Dataset.unpersist() work on checkpointed frames, this fails and the
    helper can be retired."""
    df = spark.range(5).localCheckpoint(eager=True)
    ids = set(checkpoint_rdd_ids(df))
    df.unpersist(True)
    assert ids <= _persistent_rdd_ids(_jsc(spark)), "unpersist() now works!"
    unpersist_checkpoint(df)


def test_k_core_keep_all_false_holds_at_most_two_frames(spark):
    """keep_all=False: superseded peeling rounds are freed as the next
    round materializes — after the run only the input checkpoint and
    the final round's frame may remain persisted."""
    from min_flink_spark.operators.graph import k_core

    before = _persistent_rdd_ids(_jsc(spark))
    pairs = [(i, j) for i in range(1, 6) for j in range(1, 6) if i != j]
    pairs += [(1, 10), (10, 1), (10, 11), (11, 10)]  # tendril peels off
    edges = spark.createDataFrame(pairs, "src int, dst int").localCheckpoint(
        eager=True
    )
    frames = k_core(edges, k=3, rounds=4, keep_all=False)
    assert len(frames) == 1
    after = _persistent_rdd_ids(_jsc(spark))
    expected = before | set(checkpoint_rdd_ids(edges)) | set(
        checkpoint_rdd_ids(frames[0])
    )
    # one-sided: Spark's async ContextCleaner may unpersist a GC'd
    # frame from an EARLIER test between the two snapshots (seen in
    # full-suite runs), so ids may legitimately VANISH from `before`;
    # what this test pins is that k_core added no id beyond its
    # returned frames — `after` must introduce nothing new.
    assert not (after - expected), f"leaked rounds: {sorted(after - expected)}"
    # the survivor is the 5-clique (degree 4 >= 3), both directions
    assert frames[0].count() == 20
    unpersist_checkpoint(edges)
    unpersist_checkpoint(frames[0])


def test_k_core_keep_all_true_keeps_trajectory_alive(spark):
    """Default mode: every round's frame stays persisted (the gate
    query aggregates the full trajectory after the loop)."""
    from min_flink_spark.operators.graph import k_core

    pairs = [(i, j) for i in range(1, 5) for j in range(1, 5) if i != j]
    edges = spark.createDataFrame(pairs, "src int, dst int").localCheckpoint(
        eager=True
    )
    frames = k_core(edges, k=2, rounds=3)
    assert len(frames) == 3
    live = _persistent_rdd_ids(_jsc(spark))
    for f in frames:
        assert set(checkpoint_rdd_ids(f)) <= live
        assert f.count() == 12  # still consumable after the loop
    unpersist_checkpoint(edges)
    for f in frames:
        unpersist_checkpoint(f)


def test_bfs_hops_frees_superseded_rounds(spark):
    """After bfs_hops only the returned visited frame (and the caller's
    input frames) may hold blocks — round N−1's visited set must not
    survive round N (ADVICE r6: the old .unpersist() was a no-op)."""
    from min_flink_spark.operators.graph import bfs_hops

    before = _persistent_rdd_ids(_jsc(spark))
    chain = [(i, i + 1) for i in range(1, 8)]
    edges = spark.createDataFrame(chain, "src int, dst int")
    seeds = spark.createDataFrame([(1,)], "node int")
    got = bfs_hops(edges, seeds, max_hops=5)
    after = _persistent_rdd_ids(_jsc(spark))
    expected = before | set(checkpoint_rdd_ids(got))
    # one-sided for the same ContextCleaner reason as the k_core test:
    # earlier tests' GC'd checkpoints can vanish from `before`
    # mid-test; bfs leaking a round would show up as a NEW id.
    assert not (after - expected), f"leaked rounds: {sorted(after - expected)}"
    assert {r["node"]: r["hops"] for r in got.collect()} == {
        1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5
    }
    unpersist_checkpoint(got)


def test_connected_components_and_iterate_release_rounds(spark):
    """Both generic iterative loops must end with only input + final
    state persisted, regardless of round count."""
    from min_flink_spark.operators.graph import connected_components
    from min_flink_spark.operators.iterate import iterate_fixed_point

    before = _persistent_rdd_ids(_jsc(spark))
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a int, doc_b int"
    )
    labels = connected_components(edges)
    comp = {r["node"]: r["component"] for r in labels.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # internal sym-edge checkpoint + final labels may remain; rounds gone
    leaked = _persistent_rdd_ids(_jsc(spark)) - before
    assert len(leaked) <= 2, f"CC leaked per-round frames: {sorted(leaked)}"
    unpersist_checkpoint(labels)

    before2 = _persistent_rdd_ids(_jsc(spark))
    init = spark.createDataFrame([(8,)], "v int")
    out = iterate_fixed_point(
        init, lambda df: df.select(F.greatest(F.col("v") - 3, F.lit(0)).alias("v")),
        max_iter=10,
    )
    assert out.collect()[0]["v"] == 0
    leaked2 = _persistent_rdd_ids(_jsc(spark)) - before2
    assert leaked2 <= set(checkpoint_rdd_ids(out)), (
        f"iterate leaked rounds: {sorted(leaked2)}"
    )
    unpersist_checkpoint(out)


def test_pq_topk_frees_training_sample(spark):
    """pq_topk localCheckpoints its bounded training sample; after the
    result materializes the sample's blocks must be gone (the codebook
    lives driver-side, nothing downstream can reach the sample)."""
    import numpy as np
    import pandas as pd

    from min_flink_spark.operators.similarity import pq_topk

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            V = np.abs(np.sin(np.outer(ids + 1, np.arange(1, 17))))
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(V.astype("float32"))}
            )

    corpus = spark.range(0, 400, 1, 4).mapInPandas(
        gen, "vec_id bigint, embedding array<float>"
    )
    before = _persistent_rdd_ids(_jsc(spark))
    out = pq_topk(
        corpus, corpus.filter("vec_id < 3"), k=3, m_subspaces=4, n_codes=8,
        train_sample_cap=100,  # force the md5-threshold branch too
    )
    assert out.count() > 0
    # one-sided, as in the k_core/BFS tests: the async ContextCleaner
    # may free an earlier test's GC'd frame between the snapshots, so
    # ids may vanish from `before`; a leaked sample shows as a NEW id
    leaked = _persistent_rdd_ids(_jsc(spark)) - before
    assert not leaked, f"sample leaked: {sorted(leaked)}"


def test_pagerank_and_triangles_expose_release_handles(spark):
    """The lazy results still read their internal checkpoints, so the
    operators expose them as _graft_backing; release_backing() after
    the final action must leave the registry clean."""
    from min_flink_spark.core.ckpt import release_backing
    from min_flink_spark.operators.graph import pagerank_integer, triangle_counts

    before = _persistent_rdd_ids(_jsc(spark))
    pairs = [(i, j) for i in range(1, 6) for j in range(1, 6) if i != j]
    edges = spark.createDataFrame(pairs, "src int, dst int")
    ranks = pagerank_integer(edges, iterations=2)
    assert ranks.count() == 5
    assert release_backing(ranks) >= 3
    # one-sided for the ContextCleaner reason in the pq_topk test
    assert not (_persistent_rdd_ids(_jsc(spark)) - before)

    tri = triangle_counts(spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int"
    ))
    got = {r["node"]: r["n_triangles"] for r in tri.collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    release_backing(tri)
    assert not (_persistent_rdd_ids(_jsc(spark)) - before)


def test_connected_components_frees_internal_edge_checkpoint(spark):
    """CC must not pin its symmetrized edge list after returning — only
    the final labels checkpoint may remain (caller-releasable)."""
    from min_flink_spark.core.ckpt import checkpoint_rdd_ids
    from min_flink_spark.operators.graph import connected_components

    before = _persistent_rdd_ids(_jsc(spark))
    edges = spark.createDataFrame([(1, 2), (3, 4)], "doc_a int, doc_b int")
    labels = connected_components(edges)
    leaked = _persistent_rdd_ids(_jsc(spark)) - before
    assert leaked == set(checkpoint_rdd_ids(labels)), f"extra blocks: {leaked}"
    unpersist_checkpoint(labels)


def test_gated_graph_queries_release_clean(spark, sf_dir):
    """VERDICT r7 item 6: every gated graph query's RETURNED frame must
    carry the release handle (pagerank/triangles used to lose it in
    their final top_k/select — ADVICE r7), so the gate loop's
    collect + release_backing leaves ZERO persisted graph RDDs. The
    shared copurchase edge table is disk-bucketed, not RDD-persisted,
    so the registry must return exactly to its baseline."""
    from min_flink_spark.core.ckpt import release_backing
    from min_flink_spark.queries import QUERIES

    before = _persistent_rdd_ids(_jsc(spark))
    for name in (
        "bfs_reach_copurchase",
        "kcore_copurchase",
        "pagerank_copurchase",
        "triangle_counts_copurchase",
    ):
        out = QUERIES[name](spark, sf_dir)
        assert out.count() > 0
        assert release_backing(out) >= 1, f"{name} lost its release handle"
        # one-sided for the ContextCleaner reason in the pq_topk test
        assert not (_persistent_rdd_ids(_jsc(spark)) - before), (
            f"{name} left persisted RDDs pinned"
        )


def test_carry_backing_moves_not_copies(spark):
    """ADVICE r8: carry_backing must MOVE the handle — releasing the
    intermediate source afterwards must be a no-op, never freeing
    checkpoint blocks the carried result still reads from."""
    from min_flink_spark.core.ckpt import (
        attach_backing,
        carry_backing,
        release_backing,
    )

    backing = spark.range(7).localCheckpoint(eager=True)
    inter = attach_backing(backing.filter("id > 1"), backing)
    out = carry_backing(inter.select("id"), inter)
    assert release_backing(inter) == 0, "source kept its handle (copy!)"
    assert set(checkpoint_rdd_ids(backing)) <= _persistent_rdd_ids(_jsc(spark))
    assert out.count() == 5
    assert release_backing(out) == 1


def test_carry_backing_rejects_double_carry(spark):
    """ADVICE r9: a second carry from an already-drained source must
    raise — it would silently carry nothing, and whoever releases the
    second result would leak the blocks for the session. Sources that
    never HAD a handle stay a silent no-op (the documented contract)."""
    import pytest

    from min_flink_spark.core.ckpt import (
        attach_backing,
        carry_backing,
        release_backing,
    )

    backing = spark.range(5).localCheckpoint(eager=True)
    inter = attach_backing(backing.filter("id > 0"), backing)
    out1 = carry_backing(inter.select("id"), inter)
    with pytest.raises(RuntimeError, match="already carried"):
        carry_backing(inter.select("id"), inter)
    # handle-less sources still contribute nothing, silently
    clean = spark.range(3)
    out2 = carry_backing(clean.select("id"), clean)
    assert release_backing(out2) == 0
    assert out1.count() == 4
    assert release_backing(out1) == 1


def test_add_backing_appends_via_public_api(spark):
    """ADVICE r13: operators that carry backing AND checkpoint frames
    of their own must use add_backing, not reach into the private
    list — it must extend an existing backing, create one when absent,
    and refuse a drained (_Carried) target."""
    import pytest

    from min_flink_spark.core.ckpt import (
        add_backing,
        attach_backing,
        carry_backing,
        release_backing,
    )

    a = spark.range(4).localCheckpoint(eager=True)
    b = spark.range(6).localCheckpoint(eager=True)
    inter = attach_backing(a.filter("id > 0"), a)
    out = carry_backing(inter.select("id"), inter)
    out = add_backing(out, b)  # extend the carried backing
    assert len(out._graft_backing) == 2
    fresh = add_backing(
        spark.range(2), spark.range(3).localCheckpoint(eager=True)
    )  # create when absent
    assert release_backing(fresh) == 1
    with pytest.raises(RuntimeError, match="carried"):
        add_backing(inter, b)  # drained source refuses
    assert out.count() == 3
    assert release_backing(out) == 2


def test_label_propagation_frees_superseded_rounds(spark):
    """LPA must hold at most the current round's label checkpoint;
    after release of the final frame the registry is clean."""
    from min_flink_spark.core.ckpt import unpersist_checkpoint
    from min_flink_spark.operators.graph import label_propagation

    before = _persistent_rdd_ids(_jsc(spark))
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src int, dst int"
    )
    labels = label_propagation(edges, rounds=3)
    leaked = _persistent_rdd_ids(_jsc(spark)) - before
    assert leaked == set(checkpoint_rdd_ids(labels)), f"extra blocks: {leaked}"
    assert labels.count() == 3
    unpersist_checkpoint(labels)
    # one-sided for the ContextCleaner reason in the pq_topk test
    assert not (_persistent_rdd_ids(_jsc(spark)) - before)


_CHAIN8 = [(i, i + 1) for i in range(1, 9)]
_SYM5 = [(i, i + 1) for i in range(1, 6)] + [(i + 1, i) for i in range(1, 6)]


def _job_count_cases():
    from min_flink_spark.operators.graph import (
        bfs_hops,
        connected_components,
        k_core,
        label_propagation,
        triangle_counts,
    )
    from min_flink_spark.operators.iterate import iterate_fixed_point

    def sym5(s, cols="src bigint, dst bigint"):
        return s.createDataFrame(_SYM5, cols)

    def seed(s):
        return s.createDataFrame([(1,)], "node bigint")

    return {
        "cc_chain8": ({37}, lambda s: connected_components(
            s.createDataFrame(_CHAIN8, "doc_a int, doc_b int"))),
        "bfs_hops3": ({22}, lambda s: bfs_hops(sym5(s), seed(s), max_hops=3)),
        "bfs_hops8_early_exit": (
            {43}, lambda s: bfs_hops(sym5(s), seed(s), max_hops=8)),
        "k_core_keep_all": ({11}, lambda s: k_core(
            sym5(s, "src int, dst int"), k=2, rounds=3)),
        "k_core_keep_last": ({11}, lambda s: k_core(
            sym5(s, "src int, dst int"), k=2, rounds=3, keep_all=False)),
        "label_propagation": ({26}, lambda s: label_propagation(
            sym5(s, "src int, dst int"), rounds=3)),
        # AQE submits the oriented-edge join's shuffle stages
        # concurrently, so that checkpoint runs 1 or 2 map jobs by
        # timing: 8 or 9 in all (11 and 29 of 40 calls of the same code)
        "triangle_counts": ({8, 9}, lambda s: triangle_counts(
            s.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "src int, dst int"))),
        "iterate_fixed_point": ({17}, lambda s: iterate_fixed_point(
            s.createDataFrame([(8,)], "v int"),
            lambda df: df.select(F.greatest(F.col("v") - 3, F.lit(0)).alias("v")),
            max_iter=10,
        )),
    }


@pytest.mark.parametrize("case", list(_job_count_cases()))
def test_iterative_operator_job_counts(spark, case):
    """Pin the Spark jobs each iterative operator call runs (every
    per-round materialization, convergence probe and early exit), so a
    change to the iteration driver cannot silently add or drop work."""
    from min_flink_spark.core.ckpt import release_backing

    pinned, call = _job_count_cases()[case]
    sc = spark.sparkContext
    group = f"jobcount::{case}"
    sc.setJobGroup(group, case)
    try:
        out = call(spark)
    finally:
        sc.setJobGroup(None, None)
    # the status tracker is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    for f in out if isinstance(out, list) else [out]:
        release_backing(f)
        unpersist_checkpoint(f)
    assert jobs in pinned, f"{case}: {jobs} jobs, pinned {sorted(pinned)}"
