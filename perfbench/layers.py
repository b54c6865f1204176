"""Per-layer metrics of a traced run.

``per_layer`` returns the metrics the benchmark prints (those defined
on every workload; a time is only printed where every workload loads
its layer) and a report with the whole breakdown: every layer's calls
and self time, each query's build and run phases, each streaming
trigger and each operation's Spark totals.
"""

from __future__ import annotations

import os
import statistics

from perfbench import sparklog
from perfbench.harness import CONTROL

# modules whose call counts the benchmark prints on every workload
OPERATOR_MODULES = ("dedup", "dedup_index", "similarity", "text", "bpe", "graph")


def _slope(ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against 0, 1, 2, ..."""
    n = len(ys)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(ys) / n
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / sum(
        (i - mx) ** 2 for i in range(n)
    )


def _phases(tr) -> dict[str, dict[str, float]]:
    """Build and run seconds per query (summed over its calls)."""
    out: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        if s.layer in ("queries.build", "queries.run"):
            d = out.setdefault(s.name, {"build": 0.0, "run": 0.0})
            d[s.layer.split(".")[1]] += s.dur
    return {q: {k: round(v, 4) for k, v in d.items()} for q, d in out.items()}


def per_layer(h, wl, log_dir: str, stored: tuple[int, int]):
    tr = h.tracer
    layers = tr.layer_totals()
    spark_by_group = sparklog.read_event_log(log_dir)

    def layer(name, field):
        return layers.get(name, {}).get(field, 0)

    # Spark totals of the workload's operations: their job groups, and
    # the micro-batches of the streams they started
    ops_total: dict[str, float] = {}
    per_op: dict[str, dict[str, float]] = {}
    build_jobs = run_jobs = 0
    for key, t in spark_by_group.items():
        if key.startswith("stream:"):
            op = h.stream_runs.get(key.split(":")[1])
            phase = "trigger"
        else:
            op, phase = h.groups.get(key, (None, None))
        if op is None or op == CONTROL:
            continue
        if phase == "build":
            build_jobs += t["jobs"]
        elif phase == "run":
            run_jobs += t["jobs"]
        sparklog.add(ops_total, t)
        sparklog.add(per_op.setdefault(op, {}), t)

    ops_layers = {k: v for k, v in layers.items() if k.startswith("operators.")}
    triggers = getattr(wl, "triggers", [])
    trigger_jobs = [
        spark_by_group.get(f"stream:{t['runId']}:{t['batchId']}", {}).get("jobs", 0)
        for t in triggers
    ]
    ncpu = len(os.sched_getaffinity(0))
    index_disk, index_user = stored

    m = {
        "session.start_s": (h.timing["session_s"], "s"),
        "tables.load_calls": (layer("tables", "calls"), "count"),
        "tables.load_s": (layer("tables", "total_s"), "s"),
        "queries.build_s": (layer("queries.build", "total_s"), "s"),
        "queries.run_s": (layer("queries.run", "total_s"), "s"),
        "queries.build_jobs": (build_jobs, "count"),
        "queries.run_jobs": (run_jobs, "count"),
        "operators.calls": (sum(v["calls"] for v in ops_layers.values()), "count"),
        "operators.self_s": (sum(v["self_s"] for v in ops_layers.values()), "s"),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.calls"] = (layer(f"operators.{mod}", "calls"), "count")
    m.update(
        {
            "cuts.count": (layer("cuts", "calls"), "count"),
            "cuts.rows": (tr.cut_rows, "count"),
            "fs.calls": (layer("fs", "calls"), "count"),
            "lakehouse.calls": (layer("lakehouse", "calls"), "count"),
            "multimodal.calls": (
                sum(v["calls"] for k, v in layers.items() if k.startswith("multimodal.")),
                "count",
            ),
            "streaming.triggers": (len(triggers), "count"),
            "streaming.jobs_per_trigger": (
                statistics.median(trigger_jobs) if trigger_jobs else 0,
                "count",
            ),
            "streaming.index_bytes": (index_disk, "bytes"),
            "streaming.stored_bytes_ratio": (
                index_disk / index_user if index_user else 0.0, "ratio"
            ),
            "spark.jobs": (ops_total.get("jobs", 0), "count"),
            "spark.stages": (ops_total.get("stages", 0), "count"),
            "spark.tasks": (ops_total.get("tasks", 0), "count"),
            "spark.executor_run_s": (ops_total.get("executor_run_s", 0.0), "s"),
            "spark.executor_cpu_s": (ops_total.get("executor_cpu_s", 0.0), "s"),
            "spark.jvm_gc_s": (ops_total.get("jvm_gc_s", 0.0), "s"),
            "spark.shuffle_read_mb": (ops_total.get("shuffle_read_mb", 0.0), "MB"),
            "spark.shuffle_write_mb": (ops_total.get("shuffle_write_mb", 0.0), "MB"),
            "spark.spill_mb": (ops_total.get("spill_mb", 0.0), "MB"),
            "spark.core_busy_frac": (
                ops_total.get("executor_run_s", 0.0) / (h.op_time * ncpu), "ratio"
            ),
            "trace.pass_s": (statistics.median(h.passes), "s"),
            "trace.spans": (len(tr.spans), "count"),
        }
    )

    # the whole breakdown, for the report
    trig = [t.get("triggerExecution", 0) / 1e3 for t in triggers]

    def med(key):
        vals = [t.get(key, 0) / 1e3 for t in triggers]
        return round(statistics.median(vals), 4) if vals else 0.0

    report = {
        "metrics": {k: v for k, (v, _) in m.items()},
        "layers": {
            k: {"calls": v["calls"], "self_s": round(v["self_s"], 4), "total_s": round(v["total_s"], 4)}
            for k, v in sorted(layers.items())
        },
        "cuts": {"count": layer("cuts", "calls"), "s": round(layer("cuts", "total_s"), 4),
                 "rows": tr.cut_rows},
        "streaming": {
            "trigger_s": [round(x, 4) for x in trig],
            "add_batch_s": med("addBatch"),
            "query_planning_s": med("queryPlanning"),
            "wal_commit_s": med("walCommit"),
            "get_batch_s": med("getBatch"),
            "jobs_per_trigger": trigger_jobs,
            "trigger_slope_s": round(_slope(trig), 4),
            "rows_per_s": round(
                sum(len(b) for b in getattr(wl, "batches", [])) * len(h.passes) / sum(trig), 2
            ) if trig else 0.0,
        },
        "phases_s": _phases(tr),
        "spark_per_op": {
            op: {k: round(v, 4) for k, v in t.items()} for op, t in per_op.items()
        },
        "ops_s": [(n, round(s, 4)) for n, s in h.samples],
    }
    return m, report
