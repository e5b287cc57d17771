#!/usr/bin/env python3
"""Repeat mode: run one workload over several seeds and summarize.

    python3 perfbench/repeat.py --workload NAME [--runs 10] [--first-seed 1]
                                [--seconds S] [--trace]

Runs ``perfbench/run.py`` once per seed (seeds ``first-seed`` ..
``first-seed + runs - 1``), one run at a time, and prints for every
metric its median and quartiles over the runs. For the end-to-end
metrics it also prints the spread, (q3 - q1) / median, next to the
metric's bound from BENCHMARK.json; the benchmark is steady when every
spread but that of ``setup_s`` is below a third of its bound.

With ``--trace`` every seed is also run traced, and the per-layer
metrics are summarized the same way, followed by the tracing overhead:
each end-to-end metric's median over the traced runs minus its median
over the untraced ones.

Exits 1 if any run fails or reports a wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SHOWN = re.compile(r"^# (\S+) = (\S+) (\S+)$")


def run_once(workload: str, seed: int, seconds: float, trace: int):
    """One run; returns (result line, {name: value} of every shown figure)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    # exit code 1 still prints a result line, with "correct": false
    if proc.returncode not in (0, 1) or not lines:
        return None, {}
    shown = {}
    for line in lines:
        m = SHOWN.match(line)
        if m:
            shown[m.group(1)] = float(m.group(2))
    return json.loads(lines[-1]), shown


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def table(title: str, values: dict[str, list[float]], bounds: dict) -> None:
    print(f"\n{title}")
    print(f"  {'metric':44} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}")
    for name, xs in values.items():
        q1, q2, q3 = quartiles(xs)
        spread = (q3 - q1) / q2 if q2 else float("nan")
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s":
            flag = "  ok" if spread < bound / 3 else "  WIDE"
        print(f"  {name:44} {q2:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f} "
              f"{'' if bound is None else bound:>6}{flag}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()

    e2e_names = [m["name"] for m in bench["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    modes = (0, 1) if args.trace else (0,)
    metrics = {mode: {} for mode in modes}
    shown = {mode: {} for mode in modes}
    bad = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        for mode in modes:
            res, figs = run_once(args.workload, seed, args.seconds, mode)
            if res is None or not res["correct"]:
                print(f"seed {seed} trace {mode}: FAILED "
                      f"{'' if res is None else res}", flush=True)
                bad += 1
                continue
            for k, v in res["metrics"].items():
                metrics[mode].setdefault(k, []).append(v["value"])
            for k, v in figs.items():
                shown[mode].setdefault(k, []).append(v)
            print(f"seed {seed} trace {mode}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                flush=True)

    if metrics[0]:
        table(f"{args.workload}: end-to-end, {len(metrics[0]['setup_s'])} runs",
              metrics[0], bounds)
        table(f"{args.workload}: other figures", {
            k: v for k, v in shown[0].items() if k not in metrics[0]}, {})
    if args.trace and metrics[1]:
        table(f"{args.workload}: per-layer, traced runs", metrics[1], {})
        table(f"{args.workload}: other traced figures", {
            k: v for k, v in shown[1].items() if k not in metrics[1]}, {})
        print("\ntracing overhead (median traced - median untraced)")
        for name in e2e_names:
            if name in shown[1] and name in metrics[0]:
                t, u = statistics.median(shown[1][name]), statistics.median(metrics[0][name])
                print(f"  {name:44} {t - u:+12.6g} ({(t - u) / u:+.1%})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
