"""Round-6 action-fold regression tests.

The iterative operators (ancestor closure, connected components, PageRank,
label propagation) fold each round's lineage-cut checkpoint and its
convergence action into ONE Spark job (``localCheckpoint(eager=False)``
materialized by the round's count/signature aggregate, or — for the
fixed-iteration algos — by the next round's first consumer). These tests
pin (a) the per-round job budget so an accidental return to eager
checkpoint + separate count shows up as a counted regression, and (b) the
operator results, so the fold can never drift semantics.
"""
from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import functions as F


@contextmanager
def _counted_jobs(spark):
    """Run the block under a fresh job group; yields a callable returning
    that group's job count. A unique group keeps the count exact however
    many other jobs the session has run or evicted from its retained set."""
    sc = spark.sparkContext
    group = f"action-fold-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test_action_fold job budget")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_ancestor_closure_one_job_per_round(spark):
    from code_graph_rag_spark.plans.inherits import ancestor_closure

    inh = spark.createDataFrame(
        [("A", "B"), ("B", "C")], "subj string, obj string"
    ).select(
        "subj",
        F.lit("INHERITS").alias("pred"),
        "obj",
        F.lit("Class").alias("subj_label"),
        F.lit("Class").alias("obj_label"),
        F.create_map(F.lit("base_index"), F.lit("0")).alias("props"),
        F.lit("d").alias("src_doc"),
    )
    with _counted_jobs(spark) as njobs:
        clo = ancestor_closure(inh)
        n = njobs()
    # executed rounds on an A→B→C chain: base + 1 growing doubling + 1
    # converged doubling = 3 counts; the fold makes each count the round's
    # ONLY job (pre-fold: 2 jobs per round = 6)
    assert n <= 4, f"closure used {n} jobs (fold regressed?)"
    rows = sorted((r["cls"], r["anc"], r["depth"]) for r in clo.collect())
    assert rows == [("A", "B", 1), ("A", "C", 2), ("B", "C", 1)]


def test_connected_components_one_job_per_round(spark):
    from code_graph_rag_spark.linking import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a int, b int"
    )
    with _counted_jobs(spark) as njobs:
        cc = connected_components(pairs)
        got = sorted((r["entity_id"], r["canonical_id"]) for r in cc.collect())
        n = njobs()
    # 2 setup checkpoints + one signature job per star round (3 on this
    # fixture) + the caller's collect = 6; pre-fold this was 9
    assert n <= 7, f"cc used {n} jobs (fold regressed?)"
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)]
