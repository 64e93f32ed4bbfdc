"""The benchmark's workloads: which registered queries each one runs, on
which input, and why.

Each workload loads one layer of the engine; ``interactions.json`` maps the
per-layer metrics to the end-to-end metric each should move, per workload.
The seed only shuffles the query order of every pass: the input tables are
the repository's reference test data at the workload's scale factor, copied
into ``perfbench/data/``, so every run of a workload does the same work.
"""

from __future__ import annotations

from dataclasses import dataclass

# Eight TPC-H queries: the Q1 shape (scan + aggregate), Q6 (filtered
# scan), the multi-way joins Q3 and Q9, Q12 (join + case aggregate), Q13
# (outer join + nested count), Q18 (large group-by feeding a semi-join) and
# Q21 (exists / not-exists). Eight, not more, so that a run's two cold
# set-ups, its checked warm-up pass and its timed pass fit the run budget.
TPCH = [
    "q_agg_groupby",
    "q_tpch_q3",
    "q_tpch_q6",
    "q_tpch_q9",
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q18",
    "q_tpch_q21",
]

# A fixpoint loop (connected components over near-duplicate documents) and
# two stream replays with different state: windowed aggregation and
# watermarked dedup. All of their work, micro-batches included, runs while
# the query function builds the DataFrame.
EAGER_STREAM = [
    "q_dedup_cluster_canonical",
    "q_stream_tumbling_replay",
    "q_stream_dedup_wm_replay",
]


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: list[str]
    pass_s: float  # nominal seconds per pass on 4 cores; sets the pass count


WORKLOADS = {
    "tpch": Workload(sf=0.1, queries=TPCH, pass_s=6.5),
    "eager_stream": Workload(sf=0.1, queries=EAGER_STREAM, pass_s=8.0),
}
