"""Run one workload over several seeds and print each end-to-end
metric's median, quartiles and spread (inter-quartile range over the
median), the figures a change is judged by.

    python3 perfbench/seeds.py etl_sync 1-10

Run it from the repository root. Each seed is a fresh process of
``run.py`` with the settings in BENCHMARK.json; the runs are made one
after another, never in parallel.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import median, quartiles, spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    """``"1-3,7"`` → ``[1, 2, 3, 7]``."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    workload, seeds = argv[0], parse_seeds(argv[1])
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in seeds:
        cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
              f"{result['attempted']} " + " ".join(
                  f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, q2, q3 = quartiles(vs)
        print(f"{k}: median {median(vs):.4f} q1 {q1:.4f} q3 {q3:.4f} spread {spread(vs):.4f} (n={len(vs)})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
