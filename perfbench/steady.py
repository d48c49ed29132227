#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one workload, compared.

    python3 perfbench/steady.py --workload daily_rollup [--traced]

Each of the ``SETS`` sets runs ``perfbench/run.py`` once per seed, one
run at a time, ``RUNS`` seeds per set: set k (from 0) uses seeds
``k*RUNS+1 .. (k+1)*RUNS``, so no seed repeats. For
every end-to-end metric it prints each set's and all runs' median, first
and third quartiles and spread (``(Q3 - Q1) / median``), and the drift of
each later set's median from the first, against the metric's bound in
``BENCHMARK.json``. It also compares the failed share of ops between the
sets. ``--traced`` adds one traced run per seed after the sets and prints
the traced op medians against the untraced ones (the tracing overhead).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS = 5
SETS = 2


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    print(f"  ({time.perf_counter() - t0:.1f} s) {' '.join(cmd[1:])}", flush=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {proc.returncode})")
    return json.loads(lines[-1]), proc.stdout


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--traced", action="store_true")
    args = p.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = []
    for s in range(SETS):
        results = []
        for seed in range(s * RUNS + 1, (s + 1) * RUNS + 1):
            res, _ = run_once(args.workload, seed, seconds, 0)
            results.append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"set {s + 1} seed {seed}: attempted {res['attempted']} "
                  f"failed {res['failed']} correct {res['correct']} {vals}", flush=True)
        sets.append(results)

    print(f"\n{args.workload}: {RUNS} runs per set, run_seconds {seconds}")
    print(f"{'metric':16s} {'set':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}")
    medians: dict[str, list[float]] = {}
    everything = [r for results in sets for r in results]
    for name in bounds:
        for s, results in [*enumerate(sets, 1), ("all", everything)]:
            med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in results])
            if s != "all":
                medians.setdefault(name, []).append(med)
            flag = "" if name == "setup_s" or sp <= bounds[name] / 3 else "  >bound/3"
            print(f"{name:16s} {s:>3} {med:12.5g} {q1:12.5g} {q3:12.5g} "
                  f"{sp:7.3f} {bounds[name]:6.2f}{flag}")
    print("drift of each later set's median from the first (worse direction):")
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    for name, meds in medians.items():
        for m in meds[1:]:
            d = (m - meds[0]) / meds[0]
            worse = d if better[name] == "lower" else -d
            flag = "  OVER" if worse > bounds[name] else ""
            print(f"  {name:16s} {d:+.3f} (bound {bounds[name]:.2f}){flag}")
    shares = [sum(r["failed"] for r in res) / sum(r["attempted"] for r in res)
              for res in sets]
    print("failed share per set: " + ", ".join(f"{x:.6f}" for x in shares))

    if args.traced:
        pat = re.compile(r"traced medians: (.*)")
        traced: dict[str, list[float]] = {}
        for seed in range(1, RUNS + 1):
            _, out = run_once(args.workload, seed, seconds, 1)
            for part in pat.search(out).group(1).split(", "):
                k, v = part.split()
                traced.setdefault(k, []).append(float(v))
        for k, vals in traced.items():
            t = statistics.median(vals)
            u = medians[k][0]
            print(f"tracing overhead {k}: traced median {t:.4f} vs untraced "
                  f"{u:.4f} ({(t - u) / u:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
