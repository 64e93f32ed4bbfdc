"""Benchmark harness: runs the declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line on stdout:

    {"metric": "declared_queries_total_wall", "value": <total of per-query
     medians>, "unit": "sec", "n_queries": N, "mean_sec_per_query": M,
     "runs_per_query": R, "sf": 0.1, "detail": "BENCH_DETAIL_r<N>.json"}

Per-query timings (median + every run) go to BENCH_DETAIL_r{N}.json in the
repo root, and the same file to BENCH_DETAIL_latest.json (both names carry a
``_c{cpus}`` tag when $SPARK_GRAFT_CPUS is set; $SPARK_GRAFT_BENCH_ROUND
sets N) — NOT onto the stdout line. The driver's stdout capture window is
bounded; r1 and r2 both recorded ``parsed: null`` because the single JSON
line carried ~93 per-query timings and overflowed it (VERDICT r2 item 1).
The headline stays well under 500 bytes regardless of how many queries are
registered.

Each query is executed to completion (count) up to
``SPARK_GRAFT_BENCH_RUNS`` times (default 3) after a session warm-up; the
reported figure is the median of WARM runs (run 0 is the cold sample and
is excluded whenever ≥2 runs exist) so single-run noise (the 13 apparent
r2 regressions — all noise per BASELINE.md r3 — and the 3 apparent r3
regressions, all cold-run artifacts per VERDICT r3) can be adjudicated.
Repeats are ADAPTIVE only in degree: a query whose first run is already ≥
``SPARK_GRAFT_BENCH_REPEAT_BELOW`` seconds (default 2.0 — the streaming
replays / iterative algorithms) gets exactly ONE more warm run instead of
the full ``n_runs``, bounding total bench wall time near the two-run
envelope while never reporting a cold-only figure (the r3 harness bug:
the most expensive queries were recorded from a single cold run). At the
other end, a query whose cold run is < ``SPARK_GRAFT_BENCH_MICRO_BELOW``
seconds (default 1.5) gets ``SPARK_GRAFT_BENCH_MICRO_RUNS`` total runs
(default 5, i.e. 4 warm): sub-second medians over 2 warm runs were noise-
defined — ±0.3 s spread produced seven false >2× flags on the driver's
r11 bench (VERDICT r11 item 3) — and the extra runs cost sub-seconds each
by construction.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def _next_round() -> int:
    """The current round: ``SPARK_GRAFT_BENCH_ROUND`` when set, otherwise
    inferred from driver-written artifacts (the driver writes
    CORRECTNESS_r{N}/BENCH_r{N} at the END of round N, so the live round
    is max+1). Inference alone drifts whenever the artifacts run ahead
    of or behind the round that is being measured."""
    env = os.environ.get("SPARK_GRAFT_BENCH_ROUND", "").strip()
    if env:
        if not env.isdigit():
            raise ValueError(f"SPARK_GRAFT_BENCH_ROUND must be a round number, got {env!r}")
        return int(env)
    rounds = [0]
    # only driver-written artifacts count — our own BENCH_DETAIL_r* files
    # must not bump the round
    for pattern in ("CORRECTNESS_r*.json", "BENCH_r*.json"):
        for path in glob.glob(os.path.join(REPO, pattern)):
            m = re.search(r"_r(\d+)\.json$", path)
            if m:
                rounds.append(int(m.group(1)))
    return max(rounds) + 1


def _data_stats(spark, sf_dir: str) -> dict:
    """Per-table row counts + the selectivities of the predicates the
    headline queries filter on, recorded NEXT TO the timings so data
    drift vs code regression is decidable from artifacts alone (VERDICT
    r4 item 7: q_tpch_q4's 0.37→0.63 s was adjudicated data-drift only
    by out-of-band re-measurement)."""
    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    stats: dict = {"row_counts": {}, "selectivities": {}}
    frames = {}
    for t in tables:
        try:
            frames[t] = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            stats["row_counts"][t] = frames[t].count()
        except Exception as e:  # noqa: BLE001
            stats["row_counts"][t] = f"error: {type(e).__name__}"
    sel_specs = {
        # q_tpch_q4's actual predicates (the r4 drift-watch item): the
        # driver tables carry no l_commitdate/l_receiptdate, so Q4 filters
        # orders to 1996Q3 and qualifies lineitems on l_shipdate > o_orderdate
        "orders.o_orderdate_1996Q3": (
            "orders",
            "o_orderdate >= timestamp'1996-07-01' AND o_orderdate < timestamp'1996-10-01'",
        ),
        # the replay/sessionization slices every streaming query bounds on
        "events.event_id_lt_20000": ("events", "event_id < 20000"),
        "events.user_id_lt_40": ("events", "user_id < 40"),
        # the ANN/dedup query slices
        "embeddings.vec_id_lt_500": ("embeddings", "vec_id < 500"),
        "lineitem.shipdate_le_1998_09_02": ("lineitem", "l_shipdate <= date'1998-09-02'"),
    }
    for key, (t, pred) in sel_specs.items():
        try:
            n = stats["row_counts"][t]
            if isinstance(n, int) and n:
                stats["selectivities"][key] = round(
                    frames[t].filter(pred).count() / n, 6
                )
        except Exception as e:  # noqa: BLE001
            stats["selectivities"][key] = f"error: {type(e).__name__}"
    return stats


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs_env = os.environ.get("SPARK_GRAFT_BENCH_RUNS")
    n_runs = max(1, int(n_runs_env or "3"))
    # before the run: a malformed SPARK_GRAFT_BENCH_ROUND fails up front
    rnd = _next_round()

    # The driver parses stdout as JSON (BENCH_r01 recorded parsed:null —
    # JVM/log4j noise had leaked onto fd 1). Point fd 1 at stderr for the
    # whole run — the JVM inherits the redirected fd — and restore it only
    # for the final JSON line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)

    import __spark_entry__ as entry_mod
    from etl4s_spark.session import get_spark

    spark = get_spark("bench")
    qs = entry_mod.queries()

    # Warm up the JVM + parquet footer caches with a trivial action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Adaptive repeats: sub-second queries NEED multi-run medians (±0.3 s
    # run spread on a warm JVM swamps their signal — BASELINE.md r3), while
    # fully repeating multi-second streaming replays would triple total
    # wall time. Queries whose first (cold) run exceeds the threshold get
    # exactly one more warm run; NO query is reported from a cold-only
    # sample (the r3 harness artifact that faked 3 regressions).
    repeat_below_sec = float(os.environ.get("SPARK_GRAFT_BENCH_REPEAT_BELOW", "2.0"))
    # Sub-second signal quality (VERDICT r11 item 3): seven sub-1.3 s
    # queries read 2.0–2.6× on the driver's r11 bench purely through
    # ±0.3 s warm-run spread (absolute deltas < 1 s, untouched code).
    # Queries whose cold run lands under SPARK_GRAFT_BENCH_MICRO_BELOW
    # seconds get 5 total runs (4 warm) so their median sheds one
    # contended slice instead of being defined by it. Costs ~2 extra
    # sub-second runs for the short tail only — the multi-second queries
    # keep the two-run envelope above.
    micro_below_sec = float(os.environ.get("SPARK_GRAFT_BENCH_MICRO_BELOW", "1.5"))
    # The micro-run escalation applies only when the run count is the
    # DEFAULT: an explicitly requested SPARK_GRAFT_BENCH_RUNS (e.g. a
    # 2-run smoke) is honored verbatim (ADVICE r12), and
    # SPARK_GRAFT_BENCH_MICRO_RUNS=0 disables escalation outright.
    micro_runs = (
        max(n_runs, int(os.environ.get("SPARK_GRAFT_BENCH_MICRO_RUNS", "5")))
        if n_runs_env is None
        else n_runs
    )
    # Contention guard (VERDICT r4 item 4: the driver's r4 bench ran on a
    # loaded box and recorded 166 s for a reproducible-94 s engine). Two
    # defenses: (a) record the 1-min loadavg at the start of EVERY run so
    # artifact vs regression is decidable from the detail file alone;
    # (b) when the warm-run spread exceeds SPREAD_RERUN× (default 2), take
    # up to 2 extra warm runs — a contended slice shows up as one outlier
    # run, and the median over the widened sample sheds it.
    spread_rerun = float(os.environ.get("SPARK_GRAFT_BENCH_SPREAD_RERUN", "2.0"))
    runs: dict[str, list[float]] = {}
    loads: dict[str, list[float]] = {}
    medians: dict[str, float] = {}
    respread: list[str] = []
    for name in sorted(qs):
        samples: list[float] = []
        run_loads: list[float] = []
        target_runs = n_runs
        extra_runs = 0
        failed = False
        for i in range(32):  # re-evaluated target_runs bounds the loop
            if i >= target_runs:
                break
            run_loads.append(round(os.getloadavg()[0], 2))
            t0 = time.monotonic()
            try:
                df = qs[name](spark, sf_dir)
                # Execute the FULL plan via a noop write, not count():
                # counting lets Catalyst prune aggregate/projection
                # expressions, so any query whose cost lives in the final
                # aggregate or select under-measures — q_join_geo_nearest
                # benched 0.5 s under count() for a plan whose real
                # execution (what the driver's collect pays) was 28 s.
                # The noop sink computes every output column and the
                # final sort, like the driver's toPandas, minus transfer.
                if hasattr(df, "write"):
                    df.write.format("noop").mode("overwrite").save()
                elif hasattr(df, "count"):
                    df.count()
                samples.append(round(time.monotonic() - t0, 3))
            except Exception as e:  # noqa: BLE001
                print(f"# bench error {name}: {type(e).__name__}: {e}", file=sys.stderr)
                samples = []
                failed = True
                break
            if i == 0 and samples[0] >= repeat_below_sec:
                target_runs = min(n_runs, 2)
            elif i == 0 and samples[0] < micro_below_sec:
                target_runs = micro_runs
            # spread-rerun: warm samples disagreeing by >spread_rerun×, or
            # a warm run SLOWER than the cold run (compile+cache landed on
            # the cold one, so warm>cold×1.5 means the box got busy), both
            # mean a contended slice; widen the sample (≤2 extra runs)
            warm_so_far = samples[1:]
            spread_hit = (
                len(warm_so_far) >= 2
                and min(warm_so_far) > 0
                and max(warm_so_far) / min(warm_so_far) > spread_rerun
            ) or (
                len(samples) >= 2
                and samples[0] > 0
                and max(warm_so_far) > samples[0] * 1.5
            )
            # cap extra runs at 2 RELATIVE to the (possibly adaptive)
            # target — n_runs-relative capping let a slow query with the
            # reduced target take 3 extras
            if i == target_runs - 1 and spread_hit and extra_runs < 2:
                target_runs += 1
                extra_runs += 1
                if name not in respread:
                    respread.append(name)
        runs[name] = samples
        loads[name] = run_loads if not failed else []
        # run 0 is the cold sample: plan compile + code cache + (for Python
        # paths) Arrow-worker fork all land on it. Median over warm runs.
        warm = samples[1:] if len(samples) > 1 else samples
        medians[name] = round(statistics.median(warm), 3) if warm else -1.0

    ok = [t for t in medians.values() if t >= 0]
    total = round(sum(ok), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Include the core count in the detail filename: the driver runs the
    # bench twice per round (32-core, then an 8-core scaling run), and a
    # round-only name made the second run OVERWRITE the first's per-query
    # detail (r12: the 8c run clobbered the 32c detail, destroying the
    # driver's per-query scaling comparison — VERDICT r12 item 3).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    cpu_tag = f"_c{cpus}" if cpus else ""
    detail_name = f"BENCH_DETAIL_r{rnd:02d}{cpu_tag}.json"
    detail = {
        # schema_version 2 = noop-write full-plan measurement (r6+).
        # Version 1 (implicit/absent) = count()-based medians (r<=5),
        # which Catalyst partially pruned — cross-version diffs are
        # meaningless; tooling must refuse mixed-version comparisons
        # (tools/bench_compare.py does).
        "schema_version": 2,
        "sf": sf,
        "runs_per_query": n_runs,
        "adaptive_repeat_below_sec": repeat_below_sec,
        "micro_repeat_below_sec": micro_below_sec,
        "micro_runs": micro_runs,
        "spread_rerun_threshold": spread_rerun,
        "spread_rerun_queries": respread,
        "median_rule": "warm runs only (run 0 = cold, excluded when >=2 runs)",
        "measurement": (
            "noop-write full-plan execution (r6 change: count() let Catalyst "
            "prune aggregate/projection expressions — not comparable to r<=5 "
            "count()-based medians; see BASELINE.md round-6 continuation)"
        ),
        "medians": medians,
        "runs": runs,
        "loadavg_1min_at_run_start": loads,
        "data_stats": _data_stats(spark, sf_dir),
        "total_of_medians": total,
    }
    # the same detail under a round-free name too, so a reader needs no
    # round number to find the newest run at a core count
    for name in (detail_name, f"BENCH_DETAIL_latest{cpu_tag}.json"):
        try:
            with open(os.path.join(REPO, name), "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
        except OSError as e:
            print(f"# bench detail write failed: {e}", file=sys.stderr)

    line = json.dumps(
        {
            "metric": "declared_queries_total_wall",
            "schema_version": 2,
            "value": total,
            "unit": "sec",
            # the declared surface grows per round — normalize via the mean
            # for cross-round comparison against BASELINE.md
            "n_queries": len(ok),
            "mean_sec_per_query": round(total / len(ok), 4) if ok else -1.0,
            "runs_per_query": n_runs,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "detail": detail_name,
        }
    )
    sys.stdout.flush()
    sys.stderr.flush()
    os.dup2(real_stdout, 1)
    os.write(1, (line + "\n").encode())


if __name__ == "__main__":
    main()
