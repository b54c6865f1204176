"""lakeshed benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it carry the contention stamp, the
failures if any and, when traced, the full per-layer breakdown, which
is also written to ``.perfbench/reports/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the run, Spark and the library write inside
    ``work``: Python's temp dir (the library's ``mkdtemp`` calls), the
    JVM's, and Spark's scratch space."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "data_lake_project_spark")):
        print("perfbench: the library (data_lake_project_spark/) is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import Harness
    from perfbench.layers import per_layer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(work)
    load_start = os.getloadavg()[0]
    h = Harness(work, args.seed, args.seconds, bool(args.trace))
    wl = WORKLOADS[args.workload](h)
    try:
        t0 = time.perf_counter()
        h.start_session()
        from data_lake_project_spark.queries import QUERIES  # noqa: F401 - import cost is set-up

        h.timing["import_s"] = time.perf_counter() - t0 - h.timing["session_s"]
        # the seeded inputs are written several times, each into a
        # fresh directory, so set-up time is a median; the run uses the
        # last set
        reps = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup(os.path.join(work, f"data{i}"))
            reps.append(time.perf_counter() - t)
        if args.trace:
            from perfbench.trace import instrument

            instrument(h.tracer)
        t = time.perf_counter()
        with h.tracer.paused():
            wl.publish()
            wl.warm()
        h.timing["publish_warm_s"] = time.perf_counter() - t
        h.timing["inputs_s"] = statistics.median(reps)
        h.timing["setup_s"] = (
            h.timing["session_s"] + h.timing["import_s"]
            + h.timing["inputs_s"] + h.timing["publish_warm_s"]
        )
        h.measure(wl.ops(), wl.sf)
        h.timing["check_s"] = sum(h.check_s.values())
        h.timing["peak_rss_mb"] = h.peak_rss_mb()
        stamp = h.stamp(load_start)
        if args.trace:
            h.untimed("stored bytes")
            stored = wl.stored_bytes()
        # stopping the session flushes the event log
        h.stop()
        if args.trace:
            metrics, report = per_layer(h, wl, os.path.join(work, "eventlog"), stored)
        else:
            metrics, report = h.end_to_end(), {
                "tail": h.tail(), "ops_s": [(n, round(s, 4)) for n, s in h.samples]}
    finally:
        h.stop()
        shutil.rmtree(work, ignore_errors=True)

    report.update(
        workload=args.workload, seed=args.seed, trace=args.trace, stamp=stamp,
        timing={k: round(v, 4) for k, v in h.timing.items()},
        passes=[round(p, 4) for p in h.passes], failures=h.failures,
        check_s={k: round(v, 4) for k, v in h.check_s.items()},
    )
    reports = os.path.join(ROOT, ".perfbench", "reports")
    os.makedirs(reports, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(reports, name), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(json.dumps({"stamp": stamp}))
    for f in h.failures:
        print(json.dumps({"failure": f}))
    if args.trace:
        print(json.dumps({"layers": report["layers"]}, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": not h.failures,
                "attempted": h.attempted,
                "failed": len(h.failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
