#!/usr/bin/env python3
"""Alternating benchmark pairs of two checkouts.

    python3 scripts/pairs.py <parentDir> <changeDir> <workload> <n> [firstSeed]

Runs `perfbench/run.py --workload <workload> --seed <s> --trace 0` n times in
each checkout, with the benchmark's own `run_seconds` (from the change's
BENCHMARK.json) and seeds firstSeed .. firstSeed + n - 1 (default 1). Pair i
runs both sides on seed firstSeed + i; the parent goes first in even pairs and
the change in odd ones, so a drift of the host does not favour one side. Each
run's summary goes to standard error as it finishes.

Then, for each end-to-end metric of BENCHMARK.json, it prints each side's
median and quartiles, the change's wins (pairs in which the change is better
in the metric's direction) and whether the median gap exceeds the parent's
interquartile range. The last line of standard output is one JSON object with
every run's metrics.
"""

import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(p.stderr.splitlines()[-20:]) + "\n")
        sys.exit(f"pairs: {checkout} seed {seed} exited with {p.returncode}")
    rec = json.loads(lines[-1])
    return dict(correct=rec["correct"], failed=rec["failed"], attempted=rec["attempted"],
                metrics={k: v["value"] for k, v in rec["metrics"].items()})


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    if len(sys.argv) not in (5, 6):
        sys.exit(__doc__.strip().splitlines()[2].strip())
    parent, change, workload, n = sys.argv[1:5]
    first = int(sys.argv[5]) if len(sys.argv) == 6 else 1
    bench = json.load(open(os.path.join(change, "BENCHMARK.json")))
    sides = {"parent": os.path.abspath(parent), "change": os.path.abspath(change)}
    runs = {"parent": [], "change": []}
    for i in range(int(n)):
        seed = first + i
        for side in (["parent", "change"] if i % 2 == 0 else ["change", "parent"]):
            r = run(sides[side], workload, seed, bench["run_seconds"])
            runs[side].append(r)
            print(f"[pairs] {i + 1}/{n} seed {seed} {side}: correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v:.4g}" for k, v in sorted(r["metrics"].items())),
                  file=sys.stderr, flush=True)

    print(f"{workload}, {n} pairs, seeds {first}-{first + int(n) - 1}; "
          f"failed ops: parent {sum(r['failed'] for r in runs['parent'])}, "
          f"change {sum(r['failed'] for r in runs['change'])}; "
          f"all correct: parent {all(r['correct'] for r in runs['parent'])}, "
          f"change {all(r['correct'] for r in runs['change'])}")
    print(f"{'metric':<18} {'parent p50 [q1, q3]':>30} {'change p50 [q1, q3]':>30} "
          f"{'wins':>6} {'gap > IQR':>9}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        wins = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
        pm, cm = statistics.median(p), statistics.median(c)
        gain = pm - cm if lower else cm - pm
        print(f"{name:<18} {pm:>10.4g} [{p1:>8.4g}, {p3:>8.4g}] "
              f"{cm:>10.4g} [{c1:>8.4g}, {c3:>8.4g}] {wins:>3}/{len(p):<2} "
              f"{'yes' if gain > p3 - p1 else 'no':>9}")
    print(json.dumps(dict(workload=workload, first_seed=first, runs=runs)))


if __name__ == "__main__":
    main()
