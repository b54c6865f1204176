"""Tracing overhead: the same workload and seeds, untraced then traced.

    python3 perfbench/overhead.py --workload curation --seeds 1 2 3

Prints, per seed and as medians, ``pass_s`` untraced, ``trace.pass_s``
traced, and their gap as a share of the untraced pass.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _pass_s(workload: str, seed: int, seconds: int, trace: int) -> float:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return metrics["trace.pass_s" if trace else "pass_s"]["value"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--seconds", type=int, default=8)
    args = ap.parse_args()
    plain, traced = [], []
    for seed in args.seeds:
        plain.append(_pass_s(args.workload, seed, args.seconds, 0))
        traced.append(_pass_s(args.workload, seed, args.seconds, 1))
        gap = traced[-1] / plain[-1] - 1
        print(json.dumps({"seed": seed, "pass_s": plain[-1],
                          "trace.pass_s": traced[-1], "overhead": gap}))
    p, t = statistics.median(plain), statistics.median(traced)
    print(json.dumps({"workload": args.workload, "pass_s": p,
                      "trace.pass_s": t, "overhead": t / p - 1}))


if __name__ == "__main__":
    main()
