#!/usr/bin/env python3
"""Compare two benchmark results of the same workload.

    python3 perfbench/compare.py .bench_build/results/A.json .bench_build/results/B.json

Refuses (exit 2) when the two were taken in different environments:
core count, fixture directory, heap, workload, pass count or trace
mode. Otherwise
prints each metric of A and B and B/A.
"""
import json
import sys

PINNED = ("cpus", "sf", "heap", "young", "workload", "trace",
          "settle_passes", "warm_passes")


def main():
    a, b = (json.load(open(p)) for p in sys.argv[1:3])
    diff = [k for k in PINNED if a["env"].get(k) != b["env"].get(k)]
    if diff:
        for k in diff:
            print(f"refused: {k} differs ({a['env'].get(k)} vs {b['env'].get(k)})",
                  file=sys.stderr)
        sys.exit(2)
    section = "per_layer" if a["env"]["trace"] else "end_to_end"
    for name, (va, unit) in a[section].items():
        vb = b[section][name][0]
        ratio = f"{vb / va:.3f}" if va else "n/a"
        print(f"{name:28s} {va:12.6g} {vb:12.6g} {unit:6s} B/A={ratio}")


if __name__ == "__main__":
    main()
