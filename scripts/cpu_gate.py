#!/usr/bin/env python3
"""Per-query CPU regression gate (VERDICT r5 task 7; protocol r7).

Usage: python3 scripts/cpu_gate.py [bench_queries.json] [budgets.json]

Compares a bench run's per-query CPU (the "cpu" map Bench.scala writes
to bench_queries.json) against the committed budgets in
scripts/cpu_budgets.json (recorded at round close).
FAILS (exit 1) if any query exceeds 2x its budget — so a hotspot like
r5's q_win_topk_group (3x its r3 cost, landed silently) trips the gate
instead of surfacing two rounds later in a verdict.

MEASUREMENT PROTOCOL (round 7): both sides of the compare are
min-CPU-over-two-consecutive-in-process-runs — Bench.scala runs the
query map twice and records the per-query min, and budgets are that
same map from the round-close run. Rationale: the host's selective
throttle inflates single CPU readings 1.5-2.5x on byte-identical code
(BASELINE.md variance section); r6's gate read a single-run recording
against quiet budgets and failed on 12 queries no commit had touched.
A min-of-two reading only stays inflated when the throttle spans both
runs, so a FAIL from this gate is a plan regression until proven
otherwise, not weather. Budget-file keys starting with "_" are
protocol metadata, not budgets.

FAILED KEYS: Bench lists every key that threw in either pass under
"failed" in bench_queries.json. A thrown key's elapsed time is not its
cost, so any failed key FAILS the gate regardless of its cpu reading.

NONDETERMINISTIC KEYS: Bench also lists every key whose two passes
returned different row counts under "nondeterministic". A graded key
must return the same rows on every run, so any such key FAILS the gate.

Queries with no budget (new this round) are listed as warnings; record
them into the budget file at round close. Sub-0.2-CPU-s budgets are
floored to 0.2 s before the 2x test: at that magnitude the measurement
is scheduler noise, not plan shape.

STALL ANNOTATION (VERDICT r9 task 8): a per-query WALL reading far
above what the process-CPU could account for means the host paused the
JVM mid-query (the r9 q_dedup_minhash case: 19 s wall on 4.7 CPU-s),
not that the plan got slower. Keys where wall > max(3 x cpu, 1 s) are
printed as STALL lines so a future reader sees the throttle story in
the artifact itself instead of re-deriving it from budgets. STALL is
informational -- it never fails the gate (CPU, not wall, is the graded
signal precisely because wall embeds the throttle).

This is a DEV tool (run manually / at round close), not part of the
shipped library.
"""
import json
import sys

FLOOR = 0.2
FACTOR = 2.0


def main():
    bench_path = sys.argv[1] if len(sys.argv) > 1 else "bench_queries.json"
    budget_path = sys.argv[2] if len(sys.argv) > 2 else "scripts/cpu_budgets.json"
    with open(bench_path) as f:
        bench = json.load(f)
    with open(budget_path) as f:
        budgets = {k: v for k, v in json.load(f).items()
                   if not k.startswith("_")}
    cpu = bench.get("cpu", {})
    if not cpu:
        print("FAIL: bench file has no per-query cpu map")
        return 1
    if all(v == 0 for v in cpu.values()):
        # Bench reports cpu=0 everywhere when the JVM lacks the com.sun
        # OS bean — comparing zeros against budgets would neuter the
        # gate exactly when it can't see anything (review r6).
        print("FAIL: cpu map is all zeros (process-CPU unavailable in "
              "this bench run) — gate cannot judge it")
        return 1
    wall = bench.get("queries", {})
    stalls = [n for n, w in sorted(wall.items())
              if w > max(3.0 * cpu.get(n, 0.0), 1.0)]
    for n in stalls:
        print(f"  STALL {n}: wall={wall[n]:.2f}s vs cpu={cpu.get(n, 0.0):.2f}s "
              "(host pause suspected; informational)")
    failures = [f"  FAILED {n}: threw during the bench run"
                for n in sorted(bench.get("failed", []))]
    failures += [f"  NONDET {n}: row counts differ between the two passes"
                 for n in sorted(bench.get("nondeterministic", []))]
    warnings = []
    for name, got in sorted(cpu.items()):
        if name not in budgets:
            warnings.append(f"  NEW   {name}: cpu={got:.2f}s (no budget recorded)")
            continue
        allowed = max(budgets[name], FLOOR) * FACTOR
        if got > allowed:
            failures.append(
                f"  OVER  {name}: cpu={got:.2f}s > {FACTOR}x budget "
                f"{budgets[name]:.2f}s (allowed {allowed:.2f}s)")
    for name in sorted(set(budgets) - set(cpu)):
        warnings.append(f"  GONE  {name}: budgeted but not in bench run")
    for w in warnings:
        print(w)
    if failures:
        print("\nCPU regression gate: FAIL")
        for f_ in failures:
            print(f_)
        return 1
    print(f"\nCPU regression gate: PASS "
          f"({len(cpu)} queries, {len(warnings)} warnings, "
          f"{len(stalls)} stall-suspect)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
