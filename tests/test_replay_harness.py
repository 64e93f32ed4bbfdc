"""The stream-replay harness (streaming/core.py ``replay``) and the
invariants the 14 ``q_stream_*_replay`` queries rely on: a replay leaves
the session's conf and temp-view catalog as it found them, runs its
state on REPLAY_SHUFFLE_PARTITIONS, and no query hand-rolls the
stream plumbing the harness owns."""

from __future__ import annotations

import pathlib
import re

from etl4s_spark.queries import QUERIES, load_all

load_all()

_PARTS = "spark.sql.shuffle.partitions"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_concurrent_replays_keep_session_partitions(spark, sf_dir):
    """Replays run through ``Node.par`` must not leave another replay's
    temporary partition count behind as the session's value."""
    from etl4s_spark import node

    names = [
        "q_stream_tumbling_replay",
        "q_stream_dedup_replay",
        "q_stream_sliding_replay",
        "q_stream_topk_replay",
    ]
    before = spark.conf.get(_PARTS)
    branches = [node(lambda _a, n=n: QUERIES[n](spark, sf_dir).count()) for n in names]
    counts = branches[0].par(*branches[1:]).run(None)
    assert all(c > 0 for c in counts)
    assert spark.conf.get(_PARTS) == before


def test_replay_adds_no_temp_view(spark, sf_dir):
    """The memory sink's view pins the sink rows in driver memory for the
    life of the session; a replay must drop it once its frame is built."""
    before = _temp_views(spark)
    df = QUERIES["q_stream_dedup_wm_replay"](spark, sf_dir)
    assert _temp_views(spark) - before == set()
    assert df.count() > 0  # the built frame still evaluates after the drop


def test_replay_state_runs_on_replay_partitions(spark):
    """The stream's state operators use REPLAY_SHUFFLE_PARTITIONS while the
    session keeps its own value, before, during and after the replay."""
    import pyarrow as pa
    from pyspark.sql.streaming import StreamingQueryListener

    from etl4s_spark.streaming.core import REPLAY_SHUFFLE_PARTITIONS, replay

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.parts: list[int] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.parts += [o.numShufflePartitions for o in event.progress.stateOperators]

        def onQueryTerminated(self, event) -> None:
            pass

    prev = spark.conf.get(_PARTS)
    spark.conf.set(_PARTS, "8")
    listener = Progress()
    spark.streams.addListener(listener)
    try:
        batches = [pa.table({"k": [1, 2, 1]}), pa.table({"k": [2, 3]})]
        out = replay(spark, batches, lambda s: s.groupBy("k").count(), output_mode="complete")
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        assert spark.conf.get(_PARTS) == "8"
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(_PARTS, prev)
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2), (2, 2), (3, 1)]
    assert listener.parts and set(listener.parts) == {REPLAY_SHUFFLE_PARTITIONS}


def test_queries_do_not_hand_roll_stream_plumbing():
    """Stream replays go through ``replay``: no query module starts a
    stream sink or mutates session conf itself (a conf a concurrent
    ``Node.par`` branch would see)."""
    root = pathlib.Path(__file__).resolve().parents[1] / "etl4s_spark" / "queries"
    banned = re.compile(r"spark\.conf\.set\b|\.writeStream\b")
    hits = [
        f"{p.relative_to(root)}:{i}: {line.strip()}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)
