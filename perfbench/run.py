#!/usr/bin/env python3
"""Graft benchmark: one workload in a fresh JVM, closed loop, one client.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run compiles the
library and the harness with the Scala compiler that ships in the Spark
jars (see build.py) into .bench_build/. The seed only permutes the key
order of each pass. Every key's output is consumed whole and checked
against perfbench/expected.json; a key that throws or mismatches counts
as failed and gives no latency sample.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). The
full result, stamped with its environment, goes to
.bench_build/results/, and a traced run writes its per-key, per-layer
ledger to .bench_build/ledger/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175.0

# run.py pins these and stamps them into every result.
HEAP = "4g"
YOUNG = "768m"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# --selftest: a key that passes, one whose expected output is made wrong,
# and one that throws.
SELFTEST_GOOD = "q_filter_compare"
SELFTEST_WRONG = "q_sort_multi"
THROW_KEY = "selftest_throw"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def declared(section):
    """{metric name: unit} of a metric list of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def fixtures():
    """The sf dir: GRAFT_BENCH_SF, else workloads.json's (may start with ~)."""
    return os.path.expanduser(
        os.environ.get("GRAFT_BENCH_SF", load("workloads.json")["sf"]))


def cpus():
    return len(os.sched_getaffinity(0))


def java(classes, work, args, budget_s):
    """Run a JVM with the pinned flags in `work`; return (exit code, log)."""
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
            "-XX:-UsePerfData"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp",
              "-cp", build.classpath(classes)] + args)
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1",
               SPARK_LOCAL_DIRS=f"{work}/spark-local",
               SPARK_GRAFT_CPUS=str(cpus()))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    return rc, log_path


def launch(classes, plan, work, budget_s):
    """Run the harness on `plan`; return its records."""
    records = os.path.join(work, "records.jsonl")
    plan_path = os.path.join(work, "plan.tsv")
    with open(plan_path, "w") as f:
        for k, v in plan:
            f.write(f"{k}\t{v}\n")
    rc, log_path = java(classes, work,
                        ["graftbench.Harness", plan_path, records], budget_s)
    recs = []
    if os.path.exists(records):
        with open(records) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    if rc != 0 or not recs or recs[-1].get("type") != "done":
        with open(log_path) as f:
            tail = f.read()[-4000:]
        fail(f"harness JVM exited with {rc}\n{tail}")
    return recs


def check(keys, expected):
    """Mark every key execution ok or failed, in place; return failures.

    Keys with a recorded fingerprint (oracle-verified) must match it and
    the committed row count. Keys without one (sketch/approximate, no
    oracle) must match the row count and give the same fingerprint on
    every pass of the run."""
    failures = {}
    by_key = {}
    for r in keys:
        by_key.setdefault(r["key"], []).append(r)
    for key, rs in by_key.items():
        exp = expected.get(key)
        fps = [r["fp"] for r in rs if r["ok"]]
        modal = max(set(fps), key=fps.count) if fps else None
        for r in rs:
            why = None
            if not r["ok"]:
                why = r["err"]
            elif exp is None:
                why = "no expected output recorded"
            elif r["rows"] != exp["rows"]:
                why = f"rows {r['rows']} != expected {exp['rows']}"
            elif exp["fp"] is not None and r["fp"] != exp["fp"]:
                why = "fingerprint differs from the oracle-verified one"
            elif exp["fp"] is None and r["fp"] != modal:
                why = "fingerprint not stable across passes"
            r["good"] = why is None
            if why:
                failures.setdefault(key, why)
    return failures


def end_to_end(recs, keys):
    setup = [r for r in recs if r["type"] == "setup"][0]
    passes = [r for r in recs if r["type"] == "pass"]
    first = [p for p in passes if p["kind"] == "first"][0]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    warm_ids = {p["pass"] for p in warm}
    lat = sorted(r["wall_s"] for r in keys if r["pass"] in warm_ids and r["good"])
    if len(lat) < 2:
        fail(f"only {len(lat)} good warm latency samples")
    rss = [r for r in recs if r["type"] == "rss"][0]
    values = {
        "setup_s": setup["total_s"],
        "first_pass_s": first["wall_s"],
        "pass_s": median([p["wall_s"] for p in warm]),
        "pass_cpu_s": median([p["cpu_s"] for p in warm]),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10)[8],
        "peak_rss_mb": rss["peak_mb"],
    }
    return {name: (values[name], unit)
            for name, unit in declared("end_to_end").items()}


LEDGER_FIELDS = [
    "wall_s", "cpu_s", "build_s", "build_jobs", "analysis_s",
    "optimization_s", "planning_s", "compile_s", "compiles", "jobs",
    "stages", "stages_skipped", "tasks", "task_cpu_s", "task_run_s", "gc_s",
    "failed_tasks", "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s",
    "spill_mb", "input_mb", "input_rows", "output_mb", "driver_cpu_s",
    "residual_s"]


def ledger(recs, keys):
    """Per-key layer rows of the traced passes: tag-attributed Spark
    listener totals plus planner phases matched by wall-clock window.
    compile_s and the planner phases are wall times on the driver's
    clock, and Janino can compile on task threads too (then that time
    is also in task_cpu_s), so residual_s = cpu_s - task_cpu_s -
    compile_s - planner phases is a remainder and can be negative."""
    layers = {r["tag"]: r for r in recs if r["type"] == "layers"}
    qes = sorted((r for r in recs if r["type"] == "qe"),
                 key=lambda r: r["start_ms"])
    rows = []
    for r in keys:
        if not r["traced"]:
            continue
        row = {"key": r["key"], "pass": r["pass"], "ok": r["good"]}
        lay = layers.get(r["tag"], {})
        for f in LEDGER_FIELDS:
            row[f] = r.get(f, lay.get(f, 0))
        for q in qes:
            if r["t0_ms"] <= q["start_ms"] < r["t1_ms"]:
                for ph in ("analysis_s", "optimization_s", "planning_s"):
                    row[ph] += q[ph]
        row["driver_cpu_s"] = row["cpu_s"] - row["task_cpu_s"]
        row["residual_s"] = (row["driver_cpu_s"] - row["compile_s"]
                             - row["analysis_s"] - row["optimization_s"]
                             - row["planning_s"])
        rows.append(row)
    return rows


# per-layer metric -> ledger field summed over a traced pass; the metric
# names and units are BENCHMARK.json's per_layer list
PASS_FIELDS = {
    "entry.build_s": "build_s",
    "entry.build_jobs": "build_jobs",
    "planner.analysis_s": "analysis_s",
    "planner.optimization_s": "optimization_s",
    "planner.planning_s": "planning_s",
    "codegen.compile_s": "compile_s",
    "codegen.compiles": "compiles",
    "exec.jobs": "jobs",
    "exec.stages": "stages",
    "exec.stages_skipped": "stages_skipped",
    "exec.tasks": "tasks",
    "exec.task_cpu_s": "task_cpu_s",
    "exec.task_run_s": "task_run_s",
    "exec.gc_s": "gc_s",
    "exec.failed_tasks": "failed_tasks",
    "shuffle.write_mb": "shuffle_write_mb",
    "shuffle.read_mb": "shuffle_read_mb",
    "shuffle.fetch_wait_s": "fetch_wait_s",
    "shuffle.spill_mb": "spill_mb",
    "sources.input_mb": "input_mb",
    "sources.input_rows": "input_rows",
    "sources.output_mb": "output_mb",
    "driver.cpu_s": "driver_cpu_s",
    "driver.residual_s": "residual_s",
}


def per_layer(recs, rows, n_keys):
    """Per-warm-pass layer totals (median over traced passes), the setup
    layers and the tracing overhead."""
    by_pass = {}
    for row in rows:
        by_pass.setdefault(row["pass"], []).append(row)
    v = {name: median([sum(r[field] for r in rs) for rs in by_pass.values()])
         for name, field in PASS_FIELDS.items()}
    v["codegen.compiles_per_query"] = v["codegen.compiles"] / n_keys
    v["exec.jobs_per_query"] = v["exec.jobs"] / n_keys
    setup = [r for r in recs if r["type"] == "setup"][0]
    for f in ("session_s", "tables_s", "store_s", "store_mb"):
        v[f"setup.{f}"] = setup[f]
    passes = [r for r in recs if r["type"] == "pass" and r["kind"] == "warm"]
    traced = median([p["wall_s"] for p in passes if p["traced"]])
    plain = median([p["wall_s"] for p in passes if not p["traced"]])
    v["trace.overhead"] = traced / plain
    return {name: (v[name], unit)
            for name, unit in declared("per_layer").items()}


def run(workload, wl, expected, seed, seconds, trace):
    sf = fixtures()
    if not os.path.isdir(sf):
        fail(f"fixture directory {sf} not found (set GRAFT_BENCH_SF)")
    classes = build.ensure(ROOT, OUT)
    t_start = time.monotonic()
    n = cpus()
    warm_passes = max(2, math.ceil(seconds / wl["nominal_pass_s"]))
    settle = wl["settle_passes"]
    env = {"cpus": n, "sf": sf, "heap": HEAP, "young": YOUNG, "seed": seed,
           "seconds": seconds, "settle_passes": settle,
           "warm_passes": warm_passes, "trace": trace, "workload": workload}
    work = os.path.join(OUT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    plan = [("sf", sf), ("cpus", n), ("seed", seed),
            ("settle_passes", settle), ("warm_passes", warm_passes),
            ("trace", int(trace)), ("work", work)]
    plan += [("store", k) for k in wl["store"]]
    plan += [("key", k) for k in wl["keys"]]
    try:
        budget = DEADLINE_S - (time.monotonic() - t_start)
        recs = launch(classes, plan, work, budget)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    keys = [r for r in recs if r["type"] == "key"]
    failures = check(keys, expected)
    attempted = len(keys)
    failed = sum(1 for r in keys if not r["good"])
    e2e = end_to_end(recs, keys)
    warm = {r["pass"] for r in recs if r["type"] == "pass"
            and r["kind"] == "warm" and not r["traced"]}
    lat = {}
    for r in keys:
        if r["pass"] in warm and r["good"]:
            lat.setdefault(r["key"], []).append(r["wall_s"])
    result = {"env": env, "jvm": recs[0], "failed_keys": failures,
              "failed_frac": failed / attempted, "end_to_end": e2e,
              "setup": [r for r in recs if r["type"] == "setup"][0],
              "passes": [r for r in recs if r["type"] == "pass"],
              "key_p50_s": {k: statistics.median(v) for k, v in lat.items()},
              "key_first_s": {r["key"]: r["wall_s"] for r in keys
                              if r["pass"] == 0}}
    if trace:
        rows = ledger(recs, keys)
        layers = per_layer(recs, rows, len(wl["keys"]))
        result["per_layer"] = layers
        os.makedirs(os.path.join(OUT, "ledger"), exist_ok=True)
        lpath = os.path.join(OUT, "ledger", f"{workload}-s{seed}.jsonl")
        with open(lpath, "w") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")
        print(f"ledger: {os.path.relpath(lpath, ROOT)} ({len(rows)} rows)")
        metrics = layers
    else:
        metrics = e2e
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    rpath = os.path.join(OUT, "results",
                         f"{workload}-s{seed}-t{int(trace)}.json")
    with open(rpath, "w") as f:
        json.dump(result, f, indent=1)
    print("env: " + json.dumps(env))
    for name, (v, unit) in list(e2e.items()) + [
            ("failed_frac", (failed / attempted, "ratio"))]:
        print(f"{workload} {name} = {v:.6g} {unit}")
    for key, why in sorted(failures.items()):
        print(f"FAILED {key}: {why}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def selftest():
    """Inject a throwing key and a key whose expected output is wrong into
    a short run; both must count as failed, on every pass, and the
    correct key must not."""
    keys = [SELFTEST_GOOD, SELFTEST_WRONG, THROW_KEY]
    expected = load("expected.json")
    expected[SELFTEST_WRONG] = dict(expected[SELFTEST_WRONG], fp="0:0")
    wl = {"store": [], "keys": keys, "nominal_pass_s": 1, "settle_passes": 0}
    res = run("selftest", wl, expected, 0, 0, False)
    passes = res["attempted"] // len(keys)
    ok = (res["failed"] == 2 * passes and not res["correct"])
    print(json.dumps({"selftest": "ok" if ok else "FAILED",
                      "attempted": res["attempted"],
                      "failed": res["failed"]}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    for need in ("src/main/scala", "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a graft checkout")
    if a.selftest:
        sys.exit(selftest())
    if not a.workload:
        fail("--workload is required")
    workloads = load("workloads.json")["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}")
    res = run(a.workload, workloads[a.workload], load("expected.json"),
              a.seed, a.seconds, bool(a.trace))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
