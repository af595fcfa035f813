"""Focused tests for the r15 operator-internal changes.

The r15 optimizations rewired HOW the iterative operators run (fused
observe-metric probes, one-job Lloyd iterations, skipped no-data
micro-batches) without changing WHAT they compute — these tests pin
the internal contracts the rewiring introduced, beyond the output
equality the oracle gate already proves.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_cc_fused_probe_still_detects_non_convergence(spark):
    """strict=True must still raise when max_iter is exhausted before
    the fixed point: the convergence flag now arrives via an observe
    metric riding the round's noop write, and a broken metric would
    silently return split components instead."""
    from min_flink_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(96)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2, strict=True).collect()


def test_cc_empty_edges_converges_via_null_metric(spark):
    """An empty graph's first round aggregates over zero rows — the
    observe sum is NULL there, and the fused probe must read it as
    0 changed (converged), not crash or loop to max_iter."""
    from min_flink_spark.operators.graph import connected_components

    edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert connected_components(edges, strict=True).collect() == []


def test_materialize_with_metric_single_job_and_releasable(spark):
    """The fused materialize+probe helper must (a) count correctly,
    (b) truncate lineage to one LogicalRDD leaf, and (c) leave blocks
    releasable via unpersist_checkpoint."""
    from min_flink_spark.core.ckpt import unpersist_checkpoint
    from min_flink_spark.operators.iterate import _materialize_with_metric

    df = spark.range(0, 1000, 1, 4).withColumn("flag", (F.col("id") % 5 == 0))
    ck, n = _materialize_with_metric(df, F.sum(F.col("flag").cast("long")))
    assert n == 200
    leaves = ck._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    assert ck.count() == 1000  # all partitions materialized and readable
    assert unpersist_checkpoint(ck) == 1


def test_no_data_microbatches_scope_restores_conf(spark):
    """The scoped override must restore the session value even when
    the body raises — a leaked 'false' would silently break every
    later append-mode aggregation's final emission."""
    from min_flink_spark.streaming.runner import no_data_microbatches

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key)
    with no_data_microbatches(spark, False):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == before
    with pytest.raises(ValueError):
        with no_data_microbatches(spark, False):
            raise ValueError("boom")
    assert spark.conf.get(key) == before


def test_ivf_topk_exposes_corpus_checkpoint_backing(spark):
    """The restructured Lloyd loop checkpoints the projected corpus
    once and the lazy result keeps reading it — the release handle
    must ride the result (the old loop leaked its final checkpoint
    with no handle at all)."""
    from min_flink_spark.core.ckpt import release_backing
    from min_flink_spark.operators.similarity import ivf_topk

    rows = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = ivf_topk(emb, emb.filter("vec_id < 3"), k=3, num_centroids=4,
                   n_probe=2, kmeans_iters=2)
    assert out.count() > 0
    assert release_backing(out) == 1  # exactly the one corpus checkpoint
