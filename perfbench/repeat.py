#!/usr/bin/env python3
"""Run one workload N times and summarise every metric.

    python3 perfbench/repeat.py --workload graph_snapshots --runs 10 --seconds 10
    python3 perfbench/repeat.py --workload dedup_index --runs 6 --seeds 1,2 --seconds 10

Each run is `perfbench/run.py` with its own seed: by default seeds
1, 2, ..., N; with --seeds the listed seeds in turn, so `--seeds 1,2`
alternates two seeds. It prints each run's contract metrics as the run
ends; then, for every end-to-end metric (or per-layer metric with
--trace 1) and every named metric, the median, the first and third
quartiles as Python's statistics.quantiles(values, n=4) gives them, and
the spread: the distance between the quartiles as a share of the
median. It also prints
the input fingerprint each seed produced; a seed that produced two
different fingerprints means the generator is not deterministic, and the
script exits 1, as it does when any run fails or is not correct.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seeds", help="comma-separated seeds to cycle through")
    a = ap.parse_args()

    seeds = [int(s) for s in a.seeds.split(",")] if a.seeds else None
    runs, bad, hashes = [], 0, {}
    for i in range(a.runs):
        seed = seeds[i % len(seeds)] if seeds else i + 1
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
        t0 = time.time()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        try:
            contract = json.loads(lines[-1])
            detail = json.loads(lines[-2])
        except (IndexError, ValueError):
            print(f"run {i} seed {seed}: exit {p.returncode}, no result\n{p.stderr[-3000:]}", file=sys.stderr)
            bad += 1
            continue
        ok = p.returncode == 0 and contract["correct"] and contract["failed"] == 0
        bad += 0 if ok else 1
        hashes.setdefault(seed, set()).add(detail.get("input_hash"))
        runs.append({"wall_s": wall, "contract": contract, "detail": detail})
        values = " ".join(f"{k} {m['value']:.6g}" for k, m in contract["metrics"].items())
        print(f"run {i} seed {seed}: exit {p.returncode} correct {contract['correct']} "
              f"attempted {contract['attempted']} failed {contract['failed']} wall {wall:.1f}s {values}", flush=True)

    def table(title, per_run):
        names = []
        for m in per_run:
            names += [k for k in m if k not in names]
        print(f"\n{title}")
        print(f"{'metric':40s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'spread':>8s} unit")
        for k in names:
            vals = [m[k]["value"] for m in per_run if k in m and m[k]["value"] is not None]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("nan")
            unit = next(m[k]["unit"] for m in per_run if k in m)
            print(f"{k:40s} {med:14.6g} {q1:14.6g} {q3:14.6g} {spread:8.4f} {unit}")

    table("contract metrics", [r["contract"]["metrics"] for r in runs])
    table("named metrics", [r["detail"]["named"] for r in runs])
    print(f"\nrun wall seconds: median {statistics.median([r['wall_s'] for r in runs]):.1f}"
          if runs else "\nno successful runs")
    print("input fingerprints per seed:")
    nondet = 0
    for seed, hs in sorted(hashes.items()):
        print(f"  seed {seed}: {', '.join(sorted(h or '?' for h in hs))}")
        nondet += len(hs) > 1
    if bad or nondet:
        print(f"{bad} bad runs, {nondet} seeds with more than one fingerprint", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
