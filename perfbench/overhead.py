"""Tracing overhead: one untraced and one traced run per seed, and the ratio
of their cycle_s (traced / untraced).

    python3 perfbench/overhead.py --workload <name> --seeds 1 2 3 [--seconds 10]

Both runs of a seed pay the same cold-start costs, since each is its own
process with its own JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _cycle_s(workload: str, seed: int, seconds: float, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout.splitlines()
    report = json.loads(out[-2])
    return report["cycle_s"] if trace else json.loads(out[-1])["metrics"]["cycle_s"]["value"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    ratios = []
    for seed in args.seeds:
        plain = _cycle_s(args.workload, seed, args.seconds, 0)
        traced = _cycle_s(args.workload, seed, args.seconds, 1)
        ratios.append(traced / plain)
        print(json.dumps({"seed": seed, "untraced_cycle_s": plain,
                          "traced_cycle_s": traced, "trace_overhead": traced / plain}))
    print(json.dumps({"workload": args.workload,
                      "trace_overhead_median": statistics.median(ratios)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
