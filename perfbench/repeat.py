#!/usr/bin/env python3
"""Run one workload k times, each with its own seed, and print every
metric's median and quartiles.

    python3 perfbench/repeat.py --workload <name> [--runs 10] [--seed 1]
                                [--seconds <run_seconds>] [--trace 0|1]

The spread of a metric is the distance between its first and third
quartile (statistics.quantiles(values, n=4)) as a share of its median.
For end-to-end metrics the table also shows the metric's bound from
BENCHMARK.json and whether the spread stays below a third of it.
Also reports whether every run failed the same share of its
operations.  Exits 1 if any run was incorrect.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first run")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args()

    results = []
    for i in range(a.runs):
        seed = a.seed + i
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        r = json.loads(lines[-1]) if lines else {"correct": False, "attempted": 0,
                                                 "failed": 0, "metrics": {}}
        r["seed"], r["exit"], r["wall_s"] = seed, p.returncode, time.time() - t0
        diag = [ln for ln in p.stderr.splitlines() if ln.startswith("perfbench: diagnostics ")]
        if diag:
            r["diagnostics"] = json.loads(diag[-1].split(" ", 2)[2])
        results.append(r)
        print(f"run {i + 1}/{a.runs} seed {seed}: exit {p.returncode}, correct {r['correct']}, "
              f"{r['failed']}/{r['attempted']} failed, {r['wall_s']:.1f} s", file=sys.stderr)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
    if a.json:
        with open(a.json, "w") as f:
            json.dump(results, f, indent=1)

    declared = bench["per_layer" if a.trace else "end_to_end"]
    print(f"{a.workload}: {a.runs} runs, seeds {a.seed}..{a.seed + a.runs - 1}, "
          f"{a.seconds:g} s each, trace {a.trace}")
    print(f"{'metric':34} {'unit':7} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}"
          + ("  bound  ok" if not a.trace else ""))
    for m in declared:
        vals = [r["metrics"][m["name"]]["value"] for r in results if m["name"] in r["metrics"]]
        if len(vals) < 2:
            print(f"{m['name']:34} {m['unit']:7} (fewer than two values)")
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        line = f"{m['name']:34} {m['unit']:7} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:7.3f}"
        if not a.trace:
            ok = spread < m["bound"] / 3
            line += f"  {m['bound']:5.2f}  {'yes' if ok else 'NO'}"
        print(line)
    shares = {r["failed"] / r["attempted"] if r["attempted"] else None for r in results}
    print(f"failed share per run: {sorted(map(str, shares))} "
          f"({'the same in every run' if len(shares) == 1 else 'DIFFERS between runs'})")
    print(f"run wall time: median {statistics.median(r['wall_s'] for r in results):.1f} s, "
          f"max {max(r['wall_s'] for r in results):.1f} s")
    sys.exit(0 if all(r["correct"] for r in results) else 1)


if __name__ == "__main__":
    main()
