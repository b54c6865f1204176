"""Interleaved A/B of the benchmark: a base revision vs the working tree.

    python3 scripts/ab.py --base HEAD~1 --workload curation --pairs 10

Checks ``--base`` out as a detached git worktree under the system temp
dir (removed on every exit path) and runs ``BENCHMARK.json``'s command,
untraced for its ``run_seconds``, in both trees once per pair, seed =
pair number, alternating which side runs first. Prints a JSON line per
run as it ends, then per end-to-end metric each side's quartiles, the
change/base ratio of the medians and the pairs the change won (ties
count for neither), then per side the ``suspect`` flags with each run's
control readings (``control_s``: a run slow from its first reading is
not flagged, so compare them across the pair), ``correct`` and
``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("base", "change")


def order(pair: int) -> tuple[str, str]:
    """Run order of pair ``pair`` (from 0): base first when even."""
    return SIDES if pair % 2 == 0 else SIDES[::-1]


def parse_run(stdout: str) -> dict:
    """One run's stdout: its last JSON line and the stamp's ``suspect``
    and ``control_s``."""
    lines = [json.loads(x) for x in stdout.splitlines() if x.startswith('{"')]
    res = lines[-1]
    stamp = next(x["stamp"] for x in lines if "stamp" in x)
    return {
        "correct": res["correct"],
        "failed": res["failed"],
        "suspect": stamp["suspect"],
        "control_s": stamp["control_s"],
        "metrics": {k: m["value"] for k, m in res["metrics"].items()},
    }


def _quantile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    i = p * (len(xs) - 1)
    lo = int(i)
    return round(xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo), 4)


def summarize(runs: list[dict], end_to_end: list[dict]) -> list[dict]:
    """Summary lines for ``runs`` (``parse_run`` results plus ``pair``
    and ``side``, both sides of every pair) over ``end_to_end``."""
    by = {s: sorted((r for r in runs if r["side"] == s), key=lambda r: r["pair"])
          for s in SIDES}
    rows = []
    for m in end_to_end:
        v = {s: [r["metrics"][m["name"]] for r in by[s]] for s in SIDES}
        sign = 1 if m["better"] == "lower" else -1
        wins = sum(sign * (b - c) > 0 for b, c in zip(v["base"], v["change"]))
        row = {"metric": m["name"], "unit": m["unit"], "bound": m["bound"]}
        for s in SIDES:
            row[s] = {k: _quantile(v[s], p)
                      for k, p in (("q1", 0.25), ("median", 0.5), ("q3", 0.75))}
        row["ratio"] = round(row["change"]["median"] / row["base"]["median"], 3)
        row["wins"] = f"{wins}/{len(v['base'])}"
        rows.append(row)
    return rows + [
        {"side": s, "suspect": [r["suspect"] for r in by[s]],
         "control_s": [r["control_s"] for r in by[s]],
         "correct": all(r["correct"] for r in by[s]),
         "failed": sum(r["failed"] for r in by[s])}
        for s in SIDES
    ]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cmd = [*spec["command"], "--workload", args.workload,
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    # a kill unwinds through the clean-up below, like Ctrl-C does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="lakeshed-ab-")
    trees = {"base": os.path.join(tmp, "base"), "change": ROOT}
    git = ["git", "-C", ROOT, "worktree"]
    runs = []
    try:
        subprocess.run([*git, "add", "--detach", trees["base"], args.base],
                       check=True, stdout=subprocess.DEVNULL)
        for pair in range(args.pairs):
            for side in order(pair):
                p = subprocess.run([*cmd, "--seed", str(pair + 1)],
                                   cwd=trees[side], capture_output=True, text=True)
                if p.returncode:
                    raise RuntimeError(f"{side} run failed ({p.returncode}):\n"
                                       + p.stderr[-2000:])
                runs.append(dict(parse_run(p.stdout), pair=pair + 1, side=side))
                print(json.dumps(runs[-1]), flush=True)
    finally:
        subprocess.run([*git, "remove", "--force", trees["base"]],
                       capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([*git, "prune"], capture_output=True)
    for row in summarize(runs, spec["end_to_end"]):
        print(json.dumps(row))
    return 0


if __name__ == "__main__":
    sys.exit(main())
