"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload freeze_online --runs 10 [--first-seed 1]

Runs the benchmark once per seed, in sequence, and prints for every
end-to-end metric its median and the distance between its first and
third quartile as a share of the median, next to a third of the
metric's bound from BENCHMARK.json (the target for a steady metric).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import relative_iqr  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.monotonic()
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.monotonic() - t0)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={result['correct']}, "
              + ", ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{args.workload}: {len(walls)} runs, median wall {statistics.median(walls):.1f} s")
    for name, vals in values.items():
        spread = relative_iqr(vals) if len(vals) > 1 else float("nan")
        target = bounds[name] / 3
        flag = "" if spread <= target else "  <-- above bound/3"
        print(f"  {name:20s} median {statistics.median(vals):12.4f}  spread {spread:6.3f}  bound/3 {target:.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
