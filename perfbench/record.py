#!/usr/bin/env python3
"""Record perfbench/expected.json: per-key row counts and fingerprints.

    python3 perfbench/record.py <out-dir>

For every key of every workload it
  1. runs the harness once (a cold pass and two warm passes) and takes
     each key's row count and output fingerprint, which must agree
     across the three passes;
  2. dumps the same keys through graft.Verify into <out-dir> and
     compares them with the DuckDB oracle via scripts/check.py.
A fingerprint is recorded only for a key whose oracle compare passes.
An oracle key that fails the compare is recorded with a fingerprint
that never matches, so the benchmark counts it as failed instead of
dropping it; keys without an oracle get `"fp": null` (row count, plus
fingerprint stable within a run). Run it at the pinned environment
(fixtures, core count) the benchmark uses.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

MISMATCH = "oracle-mismatch"


def main():
    out = os.path.abspath(sys.argv[1])
    cfg = run.load("workloads.json")
    sf = run.fixtures()
    keys = sorted({k for wl in cfg["workloads"].values()
                   for k in wl["keys"] + wl["store"]}
                  | {run.SELFTEST_GOOD, run.SELFTEST_WRONG})
    classes = build.ensure(run.ROOT, run.OUT)
    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    plan = [("sf", sf), ("cpus", run.cpus()), ("seed", 0),
            ("settle_passes", 0), ("warm_passes", 2), ("trace", 0),
            ("work", work)]
    plan += [("key", k) for k in keys]
    recs = run.launch(classes, plan, work, 3600)
    seen = {}
    for r in recs:
        if r["type"] == "key":
            seen.setdefault(r["key"], set()).add(
                (r["ok"], r["rows"], r["fp"], r["err"]))

    verify = os.path.join(out, "verify")
    rc, log = run.java(classes, work,
                       ["graft.Verify", sf, verify] + keys, 3600)
    if rc != 0:
        sys.exit(f"graft.Verify exited with {rc}; see {log}")
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "scripts", "check.py"),
         sf, verify] + keys, stdout=subprocess.PIPE, text=True)
    verdict = {}
    for line in check.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line)
        if m:
            verdict[m.group(2)] = (m.group(1), line)
    oracle = json.load(open(os.path.join(verify, "oracle_sql.json")))

    expected, problems = {}, []
    for k in keys:
        outs = seen.get(k, set())
        if len(outs) != 1 or not next(iter(outs))[0]:
            problems.append(f"{k}: unstable or failing in the harness: {outs}")
            continue
        _, rows, fp, _ = next(iter(outs))
        status, line = verdict.get(k, ("FAIL", "no check.py verdict"))
        if k in oracle:
            if status != "PASS":
                problems.append(f"{k}: oracle compare failed: {line}")
                fp = MISMATCH
        else:
            fp = None
        expected[k] = {"rows": rows, "fp": fp, "oracle": k in oracle}
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    for p in problems:
        print(p)
    print(f"recorded {len(expected)} keys, {len(problems)} problems")


if __name__ == "__main__":
    main()
