"""Operator-internal materializations: :func:`materialize` (the eager
checkpoint operators/graph.py ``fixpoint`` takes each round) and
session-scoped pin slots.

Operators like semdedup and dedup_funnel materialize a shared subplan
with ``persist()`` (Spark shares no common subplans without explicit
materialization — the r5 lesson) but return a LAZY DataFrame built on
top of it, so they cannot unpersist inside the call: the consumer's
action has not run yet. Leaving the release to garbage collection does
NOT work either — ``DataFrame.persist()`` registers the plan in the
JVM-side CacheManager, which holds strong references until an explicit
``unpersist()`` / ``clearCache()``; the driver-side ContextCleaner GC
hook cleans raw RDDs, not SQL-cache entries (ADVICE r10). Without a
release mechanism, every call in a long-lived session pins another copy
of its intermediate for the session lifetime.

``pin_slot`` bounds that accumulation to ONE pinned relation per
operator: each operator pins into a named slot, and pinning evicts
(unpersists) the slot's previous occupant. Correctness is unaffected —
pins keep full lineage, so a caller that acts on an OLD result after
the operator ran again merely recomputes the evicted blocks instead of
reading them from cache. Sessions that want even the last pin released
call :func:`release_all` (or ``spark.catalog.clearCache()``).

Pinned-storage growth across N sequential operator calls is pinned flat
by tests/test_llm_ops.py::test_pin_slots_bound_cached_storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SLOTS: dict[str, DataFrame] = {}


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df``, truncating its lineage: a RELIABLE
    ``checkpoint`` (survives executor loss) when the SparkContext has a
    checkpoint directory, ``localCheckpoint`` otherwise. The directory
    is a deployment setting; operators never set it, since a concurrent
    ``Node.par`` caller shares the context."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


def pin_slot(df: DataFrame, slot: str) -> DataFrame:
    """Persist ``df`` at the default storage level and evict (unpersist)
    the previous occupant of ``slot``. Returns the pinned frame.

    Eviction is non-blocking and best-effort: an occupant whose
    SparkSession has already been stopped (test teardown, session
    restart) is silently dropped — there is nothing left to free.
    """
    pinned = df.persist()
    prev = _SLOTS.get(slot)
    _SLOTS[slot] = pinned
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass
    return pinned


def release_all() -> None:
    """Unpersist every slot's occupant — the long-session cleanup hook
    for callers that are done with all slot-pinning operators."""
    for slot in list(_SLOTS):
        df = _SLOTS.pop(slot)
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
