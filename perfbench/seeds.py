"""Run one workload over consecutive seeds and print each metric's
median and spread (first-to-third quartile distance over the median).

    python3 perfbench/seeds.py --workload mixed_fresh --first 1 --runs 10 \\
        --seconds 25

Each run is a separate ``run.py`` process with its own session and
set-up. Use it to check that a workload is steady against its bounds in
``BENCHMARK.json``, and to compare two commits run after run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import iqr_frac, median  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--first", type=int, default=1)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    root = os.path.dirname(HERE)
    values: dict[str, list[float]] = {}
    for seed in range(args.first, args.first + args.runs):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(
            f"{n}={m['value']:.4g}" for n, m in result["metrics"].items()),
            flush=True)
    for name, vals in values.items():
        spread = f"{iqr_frac(vals):.4f}" if median(vals) else "n/a"
        print(f"{name}: median {median(vals):.4g} spread {spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
