"""Layered benchmark of the etl4s_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One invocation:

1. reads the workload's input tables from ``perfbench/data/sf<sf>/``, a
   copy of the repository's reference test data at that scale factor;
2. sets the session up from cold, as a user's process does: ``get_spark``
   (importing PySpark and launching the JVM), the query registry and a
   warm-up action together are ``setup_s``;
3. runs every query of the workload once and checks it against its DuckDB
   oracle (outside the timed passes), which also warms caches;
4. times the fixed-cost floor (a no-op action, a one-shuffle action);
5. runs ``ceil(seconds / pass_s)`` passes over the workload (at least one),
   where ``pass_s`` is the workload's nominal pass time, each in an order
   shuffled by ``--seed``. With ``--trace 1`` as many traced passes are
   interleaved with them; traced passes record spans and layer counters.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. Per-query samples, the drawn query list, input row counts,
load averages and the spans go to ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
FLOOR_REPS = 5
REQUIRED = (
    "etl4s_spark/session.py",
    "etl4s_spark/queries/__init__.py",
    "tools/verify_local.py",
)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _percentile(xs, p: float) -> float:
    if not xs:
        return 0.0
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=1000, method="inclusive")[int(p * 10) - 1]


def tail_percentile(n: int) -> float:
    """The highest of p50/p75/p90/p95/p99 that leaves at least ten of ``n``
    samples above it (p50 when there are fewer than twenty)."""
    best = 50.0
    for p in (75.0, 90.0, 95.0, 99.0):
        if n * (1 - p / 100) >= 10:
            best = p
    return best


# ---------------------------------------------------------------- inputs


def data_dir(sf: float) -> str:
    return os.path.join(HERE, "data", f"sf{sf:g}")


def row_counts(data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    from tools.verify_local import TABLES

    return {t: pq.ParquetDataset(f"{data_dir}/{t}.parquet").read(columns=[]).num_rows
            for t in TABLES}


# ---------------------------------------------------------------- session


def setup_session(data_dir: str, tracer):
    """The session set-up, in a process that has not imported PySpark yet:
    ``get_spark`` (which imports PySpark and launches the JVM), the query
    registry, and a warm-up action. Returns (spark, registry, timings)."""
    t0 = time.monotonic()
    with tracer.span("session.start", "session"):
        from etl4s_spark.session import get_spark

        spark = get_spark("perfbench")
    t1 = time.monotonic()
    with tracer.span("session.registry", "session"):
        import etl4s_spark.queries as registry

        registry.load_all()
    t2 = time.monotonic()
    with tracer.span("session.warmup", "session"):
        spark.read.parquet(f"{data_dir}/region.parquet").count()
    t3 = time.monotonic()
    return spark, registry, {"start_s": t1 - t0, "registry_s": t2 - t1, "warmup_s": t3 - t2}


def engine_scratch() -> set[str]:
    """Scratch and replay directories of the engine that exist now. The
    engine names them ``etl4s_*`` and puts them on the ``/dev/shm`` tmpfs
    when it has room, else in the temp directory."""
    roots = {"/dev/shm", tempfile.gettempdir()}
    return {os.path.join(r, n) for r in roots if os.path.isdir(r)
            for n in os.listdir(r) if n.startswith("etl4s_")}


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------- checks


def check_results(spark, registry, data_dir: str, queries: list[str]) -> dict[str, str]:
    """Run every query once and compare it with its DuckDB oracle. Returns
    the queries that failed or disagreed, with the reason. This is also the
    warm-up of the timed passes."""
    from oracle import OracleChecker

    checker = OracleChecker(data_dir, registry.ORACLES)
    mismatches: dict[str, str] = {}
    try:
        for name in queries:
            try:
                reason = checker.check(name, registry.QUERIES[name](spark, data_dir))
            except Exception as e:  # noqa: BLE001 — counted as an error
                reason = f"{type(e).__name__}: {str(e)[:300]}"
            if reason:
                mismatches[name] = reason
                print(f"# perfbench: {name}: {reason}", file=sys.stderr)
    finally:
        checker.close()
    return mismatches


def measure_floor(spark) -> dict[str, list[float]]:
    """Milliseconds of a no-op action and of a one-shuffle action."""
    from layers import noop_action, one_shuffle_action

    floor: dict[str, list[float]] = {"noop_action_ms": [], "one_shuffle_ms": []}
    for _ in range(FLOOR_REPS):
        for key, action in (("noop_action_ms", noop_action),
                            ("one_shuffle_ms", one_shuffle_action)):
            t0 = time.monotonic()
            action(spark)
            floor[key].append((time.monotonic() - t0) * 1000.0)
    return floor


# ---------------------------------------------------------------- passes


class Runner:
    def __init__(self, spark, registry, data_dir, tracer, listener) -> None:
        from layers import SchedulerIds

        self.spark = spark
        self.queries = registry.QUERIES
        self.data_dir = data_dir
        self.tracer = tracer
        self.listener = listener
        self.ids = SchedulerIds(spark)
        self.failed: dict[str, str] = {}

    def run_query(self, name: str, traced: bool) -> dict | None:
        """Build, plan and execute one query. Returns its sample, or None
        (and records the failure) when it raises."""
        from layers import epoch_to_monotonic, execute, plan

        tr = self.tracer
        ids = self.ids
        s: dict = {"query": name}
        try:
            with tr.span(f"query:{name}", "bench"):
                if traced:
                    j0 = ids.jobs()
                t0 = time.monotonic()
                with tr.span("build", "queries") as build_span:
                    df = self.queries[name](self.spark, self.data_dir)
                t1 = time.monotonic()
                if traced:
                    j1, st1 = ids.jobs(), ids.stages()
                with tr.span("plan", "plans"):
                    plan(df)
                t2 = time.monotonic()
                with tr.span("execute", "exec"):
                    execute(df)
                t3 = time.monotonic()
                s.update(build_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2, total_s=t3 - t0)
                if traced:
                    j3, st3 = ids.jobs(), ids.stages()
                    ids.drain_listeners()
                    s.update(build_jobs=j1 - j0, jobs=j3 - j1, stages=st3 - st1)
                    s.update(ids.stage_totals(st1, st3))
                    batches = self.listener.take()
                    s["batches"] = batches
                    for b in batches:
                        start = epoch_to_monotonic(b["epoch_start"])
                        tr.add("stream.batch", "streaming", start,
                               start + b["trigger_ms"] / 1000.0, parent=build_span.id)
        except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
            self.failed[name] = f"{type(e).__name__}: {str(e)[:300]}"
            traceback.print_exc(file=sys.stderr)
            return None
        return s

    def run_pass(self, order: list[str], traced: bool) -> dict:
        with self.tracer.span("pass", "bench") as pass_span:
            t0 = time.monotonic()
            samples = [self.run_query(q, traced) for q in order]
            wall = time.monotonic() - t0
        samples = [s for s in samples if s is not None]
        self.ids.drain_listeners()
        return {
            "traced": traced,
            "wall_s": wall,
            "samples": samples,
            "batches": [b for s in samples for b in s.get("batches", [])]
            + self.listener.take(),
            "span": pass_span,
        }


def _pass_layer_totals(p: dict, cores: int) -> dict[str, float]:
    ss = p["samples"]
    tot = lambda k: sum(s.get(k, 0) for s in ss)  # noqa: E731
    execute_s = tot("execute_s")
    batches = [b for s in ss for b in s.get("batches", [])]
    btot = lambda k: sum(b[k] for b in batches)  # noqa: E731
    replay_build = sum(s["build_s"] for s in ss if s.get("batches"))
    return {
        "queries.build_s": tot("build_s"),
        "queries.build_jobs": tot("build_jobs"),
        "queries.build_share": tot("build_s") / p["wall_s"] if p["wall_s"] else 0.0,
        "plans.plan_s": tot("plan_s"),
        "exec.execute_s": execute_s,
        "exec.jobs": tot("jobs"),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.task_run_s": tot("task_run_s"),
        "exec.core_util": tot("task_run_s") / (execute_s * cores) if execute_s else 0.0,
        "exec.input_mb": tot("input_mb"),
        "exec.shuffle_read_mb": tot("shuffle_read_mb"),
        "exec.shuffle_write_mb": tot("shuffle_write_mb"),
        "exec.spill_mb": tot("spill_mb"),
        "exec.failed_tasks": tot("failed_tasks"),
        "streaming.batches": len(batches),
        "streaming.trigger_ms": btot("trigger_ms"),
        "streaming.add_batch_ms": btot("add_batch_ms"),
        "streaming.wal_commit_ms": btot("wal_commit_ms"),
        "streaming.commit_offsets_ms": btot("commit_offsets_ms"),
        "streaming.query_planning_ms": btot("query_planning_ms"),
        "streaming.state_commit_ms": btot("state_commit_ms"),
        # rows held in state when each replay ended
        "streaming.state_rows": sum({b["run"]: b["state_rows"] for b in batches}.values()),
        "streaming.state_mem_mb": max((b["state_mem_mb"] for b in batches), default=0.0),
        "streaming.replay_overhead_s": (
            replay_build - btot("trigger_ms") / 1000.0 if batches else 0.0
        ),
    }


def run_passes(runner, tracer, queries, seed, n_passes, trace_on):
    """``n_passes`` untraced passes over the queries; a traced run adds as
    many traced passes, in the order untraced, traced, traced, untraced,
    ... so that the JVM still warming up over the passes does not show
    as tracing overhead. Each pass runs the queries in an order shuffled
    from ``seed``."""
    rng = random.Random(seed)
    passes: list[dict] = []
    for i in range(2 * n_passes if trace_on else n_passes):
        order = list(queries)
        rng.shuffle(order)
        traced = trace_on and i % 4 in (1, 2)
        tracer.enabled = traced
        passes.append(runner.run_pass(order, traced))
        passes[-1]["order"] = order
    return passes


# ---------------------------------------------------------------- main


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (smoke tests)")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from spans import Tracer, self_times
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    spec = load_spec()
    trace_on = bool(args.trace)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    # The engine's default of 32 local threads is sized for a larger host;
    # run on the cores this process may use. Every other engine default
    # (scratch on the /dev/shm tmpfs, driver memory) is left as it is.
    cores = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))

    # The JVM's log noise goes to standard error; standard output is
    # restored for the result line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    tracer = Tracer(run_id, trace_on)
    sf = args.sf if args.sf is not None else wl.sf
    queries = list(wl.queries)
    data = data_dir(sf)
    record: dict = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": sf,
        "data_dir": os.path.relpath(data, ROOT),
        "cores": cores,
        "queries": queries,
        "loadavg_1m_start": os.getloadavg()[0],
    }
    phases: dict[str, float] = {}
    t_phase = time.monotonic()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.monotonic()
        phases[name] = now - t_phase
        t_phase = now

    scratch_before = engine_scratch()
    spark = None
    try:
        spark, registry, setup = setup_session(data, tracer)
        phase("setup")
        record["row_counts"] = row_counts(data)
        record["setup"] = setup

        from layers import BatchListener

        listener = BatchListener()
        spark.streams.addListener(listener)
        runner = Runner(spark, registry, data, tracer, listener)

        mismatches = check_results(spark, registry, data, queries)
        runner.ids.drain_listeners()
        listener.take()

        phase("check")
        floor = measure_floor(spark)

        phase("floor")
        # A fixed number of passes for the workload, so every run does the
        # same work: a time-based stop on a machine whose speed drifts would
        # run two passes in one run and three in the next.
        n_passes = max(1, math.ceil(args.seconds / wl.pass_s))
        passes = run_passes(runner, tracer, queries, args.seed, n_passes, trace_on)
        all_batches = [b for p in passes for b in p["batches"]]
        phase("passes")
        rss_mb = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    finally:
        record["loadavg_1m_end"] = os.getloadavg()[0]
        if spark is not None:
            shutdown(spark)
            phase("shutdown")
        for path in engine_scratch() - scratch_before:
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)

    untraced = [p for p in passes if not p["traced"]]
    per_query: dict[str, list[float]] = {}
    for p in untraced:
        for s in p["samples"]:
            per_query.setdefault(s["query"], []).append(s["total_s"])
    # each query's latency is its median over the passes, so one sample
    # slowed by a neighbour on the machine does not move a percentile
    latencies = [_median(v) for v in per_query.values()]
    errors = set(runner.failed) | set(mismatches)
    attempted = len(queries)
    end_to_end = {
        "setup_s": sum(setup.values()),
        "wall_s": _median([p["wall_s"] for p in untraced]),
        "query_p50_s": _percentile(latencies, 50),
        "query_p75_s": _percentile(latencies, 75),
    }

    trigger = [b["trigger_ms"] for b in all_batches]
    tail_p = tail_percentile(len(trigger))
    per_layer = {
        "session.start_s": setup["start_s"],
        "session.registry_s": setup["registry_s"],
        "session.warmup_s": setup["warmup_s"],
        "floor.noop_action_ms": _median(floor["noop_action_ms"]),
        "floor.one_shuffle_ms": _median(floor["one_shuffle_ms"]),
        "streaming.batch_p50_ms": _percentile(trigger, 50),
        "streaming.batch_tail_ms": _percentile(trigger, tail_p),
        "streaming.batch_tail_pct": tail_p if trigger else 0.0,
        "error_rate": len(errors) / attempted,
        "driver_rss_peak_mb": rss_mb,
    }
    traced_passes = [p for p in passes if p["traced"]]
    if traced_passes:
        totals = [_pass_layer_totals(p, cores) for p in traced_passes]
        for key in totals[0]:
            per_layer[key] = _median([t[key] for t in totals])
        selfs = [self_times(tracer.spans, p["span"]) for p in traced_passes]
        for layer in ("bench", "queries", "plans", "exec", "streaming"):
            per_layer[f"trace.self_{layer}_s"] = _median([s.get(layer, 0.0) for s in selfs])
        traced_wall = _median([p["wall_s"] for p in traced_passes])
        per_layer["trace.wall_s"] = traced_wall
        # share of the traced pass that the named layers' spans cover; the
        # rest is the benchmark's own time between and around them
        per_layer["trace.layer_coverage"] = _median(
            [sum(v for k, v in s.items() if k != "bench") / p["wall_s"]
             for s, p in zip(selfs, traced_passes)]
        )
        per_layer["trace.overhead_s"] = traced_wall - _median([p["wall_s"] for p in untraced])

    wanted = spec["per_layer"] if trace_on else spec["end_to_end"]
    source = {**end_to_end, **per_layer}
    metrics = {m["name"]: {"value": float(source[m["name"]]), "unit": m["unit"]} for m in wanted}

    record.update(
        passes=[{k: v for k, v in p.items() if k != "span"} for p in passes],
        floor=floor,
        phase_s=phases,
        failed=runner.failed,
        mismatches=mismatches,
        end_to_end=end_to_end,
        per_layer=per_layer,
    )
    out_dir = os.path.join(STATE, "runs")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if trace_on:
        tracer.dump(os.path.join(out_dir, f"{run_id}.spans.jsonl"))

    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": metrics,
    }
    sys.stdout.flush()
    os.dup2(real_stdout, 1)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
