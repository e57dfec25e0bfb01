"""Steadiness check: run each workload repeatedly and print, per metric, the
spread of its values against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload cdc_stream ...] [--first-seed 1]

Each run uses another seed. The spread is the distance between the first and
third quartile (``statistics.quantiles(values, n=4)``) as a share of the
median; a metric is steady when its spread is below its bound (``setup_s``
is exempt from the spread rule, as its median is what a later change is
held to). Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec: dict, workload: str, seed: int) -> tuple[dict, float]:
    """One run's result line and its wall seconds."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1]), wall


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        spec = json.load(handle)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for workload in args.workload or [w["name"] for w in spec["workloads"]]:
        results, walls = [], []
        for i in range(args.runs):
            result, wall = run_once(spec, workload, args.first_seed + i)
            if not result["correct"]:
                raise SystemExit(f"{workload} seed {args.first_seed + i}: output check failed")
            results.append(result)
            walls.append(wall)
        shares = {r["failed"] / r["attempted"] for r in results}
        print(f"\n{workload}: {args.runs} runs, failed share {sorted(shares)}, "
              f"wall per run median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        print(f"  {'metric':20s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s} "
              f"{'bound':>6s}")
        for name, bound in bounds.items():
            values = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            verdict = "ok" if spread <= bound / 3 else ("within" if spread <= bound else "WIDE")
            if name == "setup_s":
                verdict = "exempt"
            print(f"  {name:20s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} {bound:6.2f} "
                  f"{verdict}")


if __name__ == "__main__":
    main()
