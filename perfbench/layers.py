"""Timed calls into each layer of the engine, and the counters read around them.

Layers, as the benchmark names them:

- ``session``: ``etl4s_spark.session.get_spark``, the query registry
  (``etl4s_spark.queries.load_all``) and the warm-up action;
- ``queries``: calling a registered query function, which builds the
  DataFrame and runs any eager checkpoint, count or stream replay inside it;
- ``plans``: Catalyst analysis, optimisation and physical planning, forced
  through ``queryExecution().executedPlan()``;
- ``exec``: running the planned query and collecting its result;
- ``streaming``: the micro-batches of the stream replays, read through
  Spark's ``StreamingQueryListener`` progress events.

Spark jobs and stages are counted by id range (the scheduler's next job
and stage ids before and after a call): job-group counts miss the Arrow
collect's internal groups and the stream thread's jobs. Stage metrics come
from the status store right after each query, before its bounded
retention can evict them.
"""

from __future__ import annotations

import datetime
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

MB = 1 << 20


class SchedulerIds:
    """Next job and stage ids of the running SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def _read(self, name: str) -> int:
        v = getattr(self._sc.dagScheduler(), name)()
        return v if isinstance(v, int) else v.get()

    def jobs(self) -> int:
        return self._read("nextJobId")

    def stages(self) -> int:
        return self._read("nextStageId")

    def drain_listeners(self) -> None:
        """Wait until every posted scheduler and streaming event has been
        delivered (status store and Python listeners included)."""
        self._sc.listenerBus().waitUntilEmpty()

    def stage_totals(self, first: int, end: int) -> dict[str, float]:
        """Task metrics summed over stages ``first .. end-1``. Stages that
        were skipped or already evicted from the status store add nothing."""
        store = self._sc.statusStore()
        out = dict.fromkeys(
            ("tasks", "task_run_s", "input_mb", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "failed_tasks", "stages_read"),
            0.0,
        )
        for sid in range(first, end):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j raises for a missing stage
                continue
            out["stages_read"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["task_run_s"] += sd.executorRunTime() / 1000.0
            out["input_mb"] += sd.inputBytes() / MB
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out


class BatchListener(StreamingQueryListener):
    """Collects one record per micro-batch from the progress events.
    Delivery is asynchronous: call ``SchedulerIds.drain_listeners`` before
    ``take`` to be sure every finished batch has arrived."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators
        start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        rec = {
            "run": str(p.runId),
            "epoch_start": start.timestamp(),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_mem_mb": sum(o.memoryUsedBytes for o in ops) / MB,
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out


def epoch_to_monotonic(epoch_s: float) -> float:
    return epoch_s - (time.time() - time.monotonic())


def noop_action(spark) -> None:
    """The cheapest action: one single-task job with no shuffle."""
    spark.range(1).collect()


def one_shuffle_action(spark) -> None:
    """An action with exactly one shuffle: a grouped count."""
    from pyspark.sql import functions as F

    spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count().collect()


def plan(df) -> None:
    """Force analysis, optimisation and physical planning of ``df``; the
    following action reuses this plan."""
    df._jdf.queryExecution().executedPlan()


def execute(df) -> int:
    """Run ``df``'s planned query and bring the result to Python as Arrow."""
    return df.toArrow().num_rows
