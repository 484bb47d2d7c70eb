"""Tracing overhead: the traced run's end-to-end numbers minus the untraced
run's, for one workload and seed.

    python3 perfbench/overhead.py --workload ingest --seed 1 --seconds 12
"""

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def e2e(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    line = next(x for x in out.splitlines() if x.startswith("perfbench-e2e: "))
    return json.loads(line.split(": ", 1)[1])


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args()
    plain = e2e(args.workload, args.seed, args.seconds, 0)
    traced = e2e(args.workload, args.seed, args.seconds, 1)
    print(f"{'metric':<30} {'untraced':>12} {'traced':>12} {'traced-untraced':>16}")
    for k, v in plain.items():
        if k in traced:
            print(f"{k:<30} {v:>12.4f} {traced[k]:>12.4f} {traced[k] - v:>16.4f}")


if __name__ == "__main__":
    main()
