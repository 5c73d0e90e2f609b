#!/usr/bin/env python3
"""Steadiness check of the benchmark: runs every workload repeatedly, one
seed per round, alternating the workload order between rounds, and prints
for each end-to-end metric its median, quartiles and spread (interquartile
range over median) against the metric's bound from BENCHMARK.json. A
spread within a third of the bound is the target. It also compares the
medians of the first and second half of the rounds, and breaks set-up
down into its phases (session start, input registration, cold pass) so
that a noisy setup_s shows where the noise comes from.

    python3 graftbench/steady.py --rounds 10 [--first-seed 1]
        [--workloads core,iterative] [--seconds 15]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def run(w, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    out = os.path.join(ROOT, ".bench_build", "runs", f"{w}-seed{seed}-trace0")
    with open(os.path.join(out, "raw.json")) as f:
        phases = json.load(f)["setup_phases"]
    return p.returncode, result, phases


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(workloads.WORKLOADS))
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    names = a.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {w: {m: [] for m in bounds} for w in names}
    phases = {w: {} for w in names}
    failures = 0
    for i in range(a.rounds):
        seed = a.first_seed + i
        for w in (names if i % 2 == 0 else names[::-1]):
            code, result, ph = run(w, seed, a.seconds)
            failures += code != 0 or not result["correct"]
            for m in bounds:
                values[w][m].append(result["metrics"][m]["value"])
            for rep, d in enumerate(ph):
                for k, v in d.items():
                    key = f"rep{min(rep, 1)}{'+' if rep else ''}.{k}"
                    phases[w].setdefault(key, []).append(v)
            print(f"round {i + 1} seed {seed} {w}: " + " ".join(
                f"{m}={result['metrics'][m]['value']:.4g}" for m in bounds)
                + ("" if result["correct"] else " INCORRECT"), flush=True)

    ok = True
    print(f"\n{'workload':10s} {'metric':18s} {'median':>10s} {'q1':>10s} "
          f"{'q3':>10s} {'spread':>7s} {'bound':>6s} {'halves':>7s}")
    for w in names:
        for m, vs in values[w].items():
            q1, med, q3, sp = spread(vs)
            half = len(vs) // 2
            drift = statistics.median(vs[half:]) / statistics.median(vs[:half]) - 1
            steady = sp < bounds[m] / 3 and abs(drift) < bounds[m]
            ok &= steady
            print(f"{w:10s} {m:18s} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                  f"{sp:7.1%} {bounds[m]:6.0%} {drift:+7.1%}"
                  + ("" if steady else "  <-- not steady"))
        for k, vs in sorted(phases[w].items()):
            q1, med, q3, sp = spread(vs)
            print(f"{w:10s} setup {k:21s} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                  f"{sp:7.1%}")
    print(f"\n{failures} failed runs; "
          + ("steady" if ok and not failures else "NOT steady"))
    return 0 if ok and not failures else 1


if __name__ == "__main__":
    sys.exit(main())
