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
