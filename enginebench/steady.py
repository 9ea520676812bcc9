"""Steadiness check: run one workload K times, each with its own seed, and
print every end-to-end metric's median and interquartile spread (as a share
of the median) beside the bound BENCHMARK.json gives it.

    python3 enginebench/steady.py --workload tpch_scaled -k 10 [--first-seed 1]

A spread within a third of its bound is steady. A metric whose spread
exceeds its bound is too noisy to gate on; ``setup_s`` is gated on its
median only.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {n: [] for n in bounds}
    walls, bad = [], 0
    for seed in range(args.first_seed, args.first_seed + args.k):
        t = time.monotonic()
        proc = subprocess.run(
            [sys.executable, "enginebench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.monotonic() - t)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            bad += 1
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        for n in bounds:
            values[n].append(result["metrics"][n]["value"])
        print(
            f"seed {seed}: wall {walls[-1]:.1f} s  "
            + "  ".join(f"{n}={result['metrics'][n]['value']:.4g}" for n in bounds),
            flush=True,
        )
    print(f"\n{args.workload}: {args.k - bad}/{args.k} runs ok, run wall median {statistics.median(walls):.1f} s")
    print(f"{'metric':20s} {'median':>10s} {'spread':>8s} {'bound':>6s}  steady")
    for n, vals in values.items():
        if len(vals) < 2:
            continue
        sp = spread(vals)
        ok = "yes" if sp <= bounds[n] / 3 else ("within bound" if sp <= bounds[n] else "NO")
        print(f"{n:20s} {statistics.median(vals):10.4g} {sp:8.3f} {bounds[n]:6.2f}  {ok}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
