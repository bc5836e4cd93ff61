"""Tracing overhead: traced minus untraced end-to-end latency, per seed.

    python3 perfbench/overhead.py --workload corpus --seeds 1,2,3 --seconds 15

Runs ``run.py`` once untraced and once traced for every seed, in that
order, and prints the difference of the operation latencies the two runs
report (``main_op_p50_s`` against ``trace.main_op_p50_s``, and the same for
the side operations), with the median over seeds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def metrics(workload: str, seed: int, seconds: str, trace: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", seconds, "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="comma-separated")
    p.add_argument("--seconds", default="15")
    args = p.parse_args()
    diffs = {"main_op_p50_s": [], "side_ops_p50_s": []}
    for seed in (int(s) for s in args.seeds.split(",")):
        plain = metrics(args.workload, seed, args.seconds, 0)
        traced = metrics(args.workload, seed, args.seconds, 1)
        for k, d in diffs.items():
            d.append(traced[f"trace.{k}"] - plain[k])
            print(f"seed {seed} {k}: untraced {plain[k]:.3f} s, traced {traced[f'trace.{k}']:.3f} s")
    for k, d in diffs.items():
        print(f"{k}: median overhead {statistics.median(d):+.3f} s over {len(d)} seeds")


if __name__ == "__main__":
    main()
