"""The fixpoint driver (operators/graph.py ``fixpoint``) that every
iterative graph/dedup operator runs on: convergence is read from each
round's own checkpoint job, an empty round ends the loop, and no
operator sets the SparkContext's checkpoint directory itself."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F


def test_fixpoint_runs_one_job_per_round(spark):
    """Reading a round's convergence metrics costs no extra action: over
    a shuffle-free step, every round is exactly the one job that
    checkpoints it."""
    from etl4s_spark.operators.graph import fixpoint

    sc = spark.sparkContext
    sc.setJobGroup("fixpoint_jobs", "fixpoint one job per round")
    try:
        state, history = fixpoint(
            spark.range(100).select(F.col("id").alias("v")),
            lambda df: df.select(F.expr("v div 2").alias("v")),
            [F.max("v").alias("top")],
            lambda h: not h[-1]["top"],
            20,
        )
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("fixpoint_jobs"))
    finally:
        sc.setJobGroup(None, None)
    # 99 halves to 0 in 7 steps: rounds observe 99, 49, 24, 12, 6, 3, 1, 0
    assert [m["top"] for m in history] == [99, 49, 24, 12, 6, 3, 1, 0]
    assert all(m["rows"] == 100 for m in history)
    assert n_jobs == len(history)
    assert state.where(F.col("v") != 0).count() == 0


def test_fixpoint_budget_raises_with_history(spark):
    from etl4s_spark.operators.graph import NotConverged, fixpoint

    with pytest.raises(NotConverged, match=r"max_rounds=3 .*'rows': 5"):
        fixpoint(spark.range(5), lambda df: df, [], lambda h: False, 3)


def test_iterative_operators_accept_an_empty_graph(spark):
    """An observation over zero rows yields NULL aggregates (sum,
    bit_xor); the driver reads an empty round as converged, so every
    iterative operator returns zero rows instead of raising."""
    from etl4s_spark.operators.dedup import (
        connected_components,
        connected_components_contracted,
        connected_components_star,
    )
    from etl4s_spark.operators.graph import bfs_hops, k_core

    empty = spark.createDataFrame([], "id_a long, id_b long")
    for name, out in [
        ("connected_components", connected_components(empty)),
        ("connected_components_star", connected_components_star(empty)),
        ("connected_components_contracted", connected_components_contracted(empty)),
        ("k_core", k_core(empty, k=3)),
        ("bfs_hops", bfs_hops(empty, empty.select("id_a"))),
    ]:
        assert out.collect() == [], name


def test_connected_components_edge_cases_keep_labels_and_types(spark, monkeypatch):
    """Self-loops, NULL endpoints and non-bigint ids: a NULL endpoint
    joins nothing (its row keeps a NULL label), and int / string ids
    keep their type — on the driver finish and through the sweeps."""
    import etl4s_spark.operators.dedup as dedup

    def cc(rows, schema):
        out = dedup.connected_components(spark.createDataFrame(rows, schema))
        got = sorted((tuple(r) for r in out.collect()), key=lambda r: (r[0] is None, r[0]))
        return out.schema.simpleString(), got

    for gate in (dedup.LOCAL_FINISH_MAX_PAIRS, -1):
        monkeypatch.setattr(dedup, "LOCAL_FINISH_MAX_PAIRS", gate)
        assert cc([(1, 1), (2, 3)], "id_a long, id_b long") == (
            "struct<id:bigint,component:bigint>",
            [(1, 1), (2, 2), (3, 2)],
        ), gate
        assert cc([(1, None), (2, 3), (None, 4)], "id_a long, id_b long")[1] == [
            (1, 1), (2, 2), (3, 2), (4, 4), (None, None)
        ], gate
        assert cc([(1, 2), (3, 2)], "id_a int, id_b int") == (
            "struct<id:int,component:int>",
            [(1, 1), (2, 1), (3, 1)],
        ), gate
        assert cc([("b", "a"), ("c", "b"), ("x", "y")], "id_a string, id_b string") == (
            "struct<id:string,component:string>",
            [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")],
        ), gate


def test_connected_components_sweep_is_two_jobs(spark, monkeypatch):
    """A sweep is one exchange: after the first (which also builds the
    adjacency state), each sweep's materialization is the shuffle-map
    job plus the checkpoint's result job, and nothing else."""
    import etl4s_spark.operators.dedup as dedup
    import etl4s_spark.operators.graph as graph

    # a chain this small finishes on the driver; force the sweeps
    monkeypatch.setattr(dedup, "LOCAL_FINISH_MAX_PAIRS", -1)
    sc = spark.sparkContext
    materialize, groups = graph.materialize, []

    def grouped(df):
        groups.append(f"cc_sweep_{len(groups)}")
        sc.setJobGroup(groups[-1], "connected_components sweep")
        try:
            return materialize(df)
        finally:
            sc.setJobGroup(None, None)

    monkeypatch.setattr(graph, "materialize", grouped)
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a long, id_b long")
    labels = {r.id: r.component for r in dedup.connected_components(chain).collect()}
    assert labels == {i: 0 for i in range(9)}
    # label 0 needs 8 sweeps to reach node 8, and a 9th changes nothing
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert len(jobs) == 9, jobs
    assert all(n <= 2 for n in jobs[1:]), jobs


def test_connected_components_driver_finish_job_budget(spark):
    """Under the pair-count gate the whole call is the pair relation's
    checkpoint plus one Arrow collect: the sweeps run on the driver, so
    no sweep costs a Spark job."""
    import etl4s_spark.operators.dedup as dedup

    sc = spark.sparkContext
    chain = spark.createDataFrame([(i, i + 1) for i in range(8)], "id_a long, id_b long")
    assert dedup.LOCAL_FINISH_MAX_PAIRS >= 8
    sc.setJobGroup("cc_driver_finish", "connected_components driver finish")
    try:
        out = dedup.connected_components(chain)
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc_driver_finish"))
    assert n_jobs <= 3, n_jobs
    assert {r.id: r.component for r in out.collect()} == {i: 0 for i in range(9)}


def test_operators_never_set_the_checkpoint_dir():
    """The checkpoint directory is a deployment setting the SparkContext
    holds (``materialize`` reads it); an operator that set it would
    change it under a concurrent ``Node.par`` caller."""
    root = pathlib.Path(__file__).resolve().parents[1] / "etl4s_spark"
    banned = re.compile(r"\bsetCheckpointDir\b")
    hits = [
        f"{p.relative_to(root)}:{i}: {line.strip()}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)
