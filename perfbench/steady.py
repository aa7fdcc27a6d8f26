#!/usr/bin/env python3
"""Steadiness of the benchmark: two sets of runs of one workload.

    python3 perfbench/steady.py --workload fill --runs 5 [--seconds 20] \\
        [--seed0 1] [--trace-runs 0]

Runs ``2 * runs`` fresh processes of perfbench/run.py, alternating set A
and set B run by run, each with its own seed (seed0, seed0+1, ...). For
every metric it prints each set's median and quartiles, the gap between
the two medians as a share of set A's median, and over all runs the
quartile spread (q3 - q1) as a share of the median, beside the metric's
bound in BENCHMARK.json. ``--trace-runs N`` adds N traced runs of seed0,
prints their per-layer metrics (so repeated counts can be compared) and
the traced ``cpu_ms_per_req`` beside the untraced one (the tracing
overhead).
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, str, float]:
    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if p.returncode != 0:
        sys.exit(f"run failed (seed {seed}):\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout, time.perf_counter() - t0


def quartiles(v: list[float]) -> tuple[float, float, float]:
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seconds", type=int, default=None, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace-runs", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    sets: dict[str, list[dict]] = {"A": [], "B": []}
    fails = []
    for i in range(2 * args.runs):
        s = "AB"[i % 2]
        res, _, wall = one_run(args.workload, args.seed0 + i, seconds, 0)
        sets[s].append(res["metrics"])
        fails.append((res["failed"], res["attempted"]))
        print(f"run {i + 1}/{2 * args.runs} set {s} seed {args.seed0 + i} ({wall:.0f} s): "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)

    print(f"\n{args.workload}: {args.runs} + {args.runs} runs, --seconds {seconds}; failed/attempted per run: {fails}")
    print(f"{'metric':22s} {'A q1':>11s} {'A med':>11s} {'A q3':>11s} {'B q1':>11s} {'B med':>11s} {'B q3':>11s} "
          f"{'gap':>7s} {'spread':>7s} {'bound':>6s}")
    for name in sets["A"][0]:
        a = [m[name]["value"] for m in sets["A"]]
        b = [m[name]["value"] for m in sets["B"]]
        qa, qb, qall = quartiles(a), quartiles(b), quartiles(a + b)
        gap = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
        spread = (qall[2] - qall[0]) / qall[1] if qall[1] else 0.0
        print(f"{name:22s} {qa[0]:11.5g} {qa[1]:11.5g} {qa[2]:11.5g} {qb[0]:11.5g} {qb[1]:11.5g} {qb[2]:11.5g} "
              f"{gap:+7.3f} {spread:7.3f} {bounds.get(name, float('nan')):6.2f}")

    if args.trace_runs:
        base = statistics.median(m["cpu_ms_per_req"]["value"] for m in sets["A"] + sets["B"])
        traced = []
        for i in range(args.trace_runs):
            res, out, _wall = one_run(args.workload, args.seed0, seconds, 1)
            traced.append(float(re.search(r"traced cpu_ms_per_req (\S+)", out).group(1)))
            print(f"traced run {i + 1}/{args.trace_runs} seed {args.seed0}: "
                  + " ".join(f"{k}={v['value']:.6g}" for k, v in res["metrics"].items()), flush=True)
        tp = statistics.median(traced)
        print(f"\ntracing overhead: traced cpu_ms_per_req {tp:.1f} vs untraced {base:.1f} ({(tp - base) / base:+.1%}, "
              f"{args.trace_runs} traced runs)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
