"""The measuring loop shared by every workload.

One ``Harness`` per run: it starts the session, runs the workload's
setup, times the workload's operations in a closed loop (the next
operation starts when the previous one returns), checks each
operation's output outside the timed region, and folds the results
into the end-to-end metrics (``layers.py`` folds the per-layer ones).
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from dataclasses import dataclass, field
from typing import Callable

from perfbench.trace import PROBE_GROUP, Tracer

CONTROL = "q04_equi_join"


@dataclass
class Outcome:
    """What an operation hands back to the loop.

    ``samples``: latencies to report instead of the operation's wall
    time (a stream drain reports one per trigger). ``check``: runs
    after the timer stops and returns an error string or None.
    """

    samples: list[float] | None = None
    check: Callable[[], str | None] | None = None
    runs: list[str] = field(default_factory=list)  # streaming run ids


@dataclass
class Op:
    name: str
    fn: Callable[[int], Outcome | None]  # receives the pass number
    pre: Callable[[int], None] | None = None  # untimed, before the op


def percentile(values: list[float], q: int) -> float:
    """The ``q``-th percentile, linearly interpolated between samples."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Harness:
    def __init__(self, work_dir: str, seed: int, seconds: int, trace: bool):
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.traced = trace
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.samples: list[tuple[str, float]] = []
        self.passes: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.groups: dict[str, tuple[str, str]] = {}  # job group -> (op, phase)
        self.stream_runs: dict[str, str] = {}  # streaming run id -> op
        self.timing: dict[str, float] = {}
        self.control_s: list[float] = []
        self.op_time = 0.0
        self.check_s: dict[str, float] = {}
        self.checked: set[str] = set()
        self._seq = 0

    # -- session ------------------------------------------------------

    def start_session(self) -> None:
        from data_lake_project_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(self.work, 'derby')} "
                "-XX:-UsePerfData"
            ),
        }
        if self.traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        with self.tracer.span("session", "start"):
            self.spark = get_spark("perfbench", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
        self.timing["session_s"] = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, then the JVM it runs in, and wait for it:
        the gateway JVM exits when its stdin closes."""
        if self.spark is None:
            return
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def peak_rss_mb(self) -> float:
        kb = _vm_hwm_kb("self")
        jvm = self.spark.sparkContext._gateway.proc
        if jvm is not None:
            kb += _vm_hwm_kb(jvm.pid)
        return kb / 1024

    # -- job groups ---------------------------------------------------

    def group(self, op: str, phase: str) -> None:
        key = f"perfbench:{self._seq}:{phase}"
        self.groups[key] = (op, phase)
        self.spark.sparkContext.setJobGroup(key, f"{op}/{phase}")

    def untimed(self, what: str) -> None:
        self.spark.sparkContext.setJobGroup(PROBE_GROUP, what)

    def phase(self, op: str, phase: str, layer: str):
        """Tag the jobs of one phase of an operation and span it."""
        self.group(op, phase)
        return self.tracer.span(layer, op)

    # -- queries ------------------------------------------------------

    def query(self, name: str, sf_dir: str):
        """``QUERIES[name](spark, sf)`` then a ``noop`` write: the build
        and run phases get their own job groups and spans."""
        from data_lake_project_spark.queries import QUERIES

        with self.phase(name, "build", "queries.build"):
            df = QUERIES[name](self.spark, sf_dir)
        with self.phase(name, "run", "queries.run"):
            df.write.format("noop").mode("overwrite").save()
        return df

    def control(self, sf_dir: str) -> None:
        """The fixed control operation, timed apart from the workload
        and left out of its spans and Spark totals."""
        self._seq += 1
        self.spark._jvm.System.gc()
        t0 = time.perf_counter()
        with self.tracer.paused():
            self.query(CONTROL, sf_dir)
        self.control_s.append(time.perf_counter() - t0)

    # -- the closed loop ----------------------------------------------

    def measure(self, ops: list[Op], sf_dir: str) -> None:
        """Run whole passes over ``ops`` until they add up to
        ``seconds`` of operation time. The workloads are sized so that
        one pass takes longer than the benchmark's run_seconds: a run
        times one pass, and a pass only repeats once it gets faster
        than that. The control runs at the start, after the middle
        operation of the first pass, and at the end."""
        self.control(sf_dir)
        mid = len(ops) // 2
        n_pass = 0
        while True:
            t_pass = 0.0
            for i, op in enumerate(ops):
                if n_pass == 0 and i == mid:
                    self.control(sf_dir)
                t_pass += self._run_op(op, n_pass)
            self.passes.append(t_pass)
            n_pass += 1
            if sum(self.passes) >= self.seconds:
                break
        self.control(sf_dir)

    def _run_op(self, op: Op, n_pass: int) -> float:
        self._seq += 1
        if op.pre is not None:
            self.untimed(f"{op.name}/pre")
            op.pre(n_pass)
        self.spark._jvm.System.gc()
        self.attempted += 1
        t0 = time.perf_counter()
        err = None
        out = None
        try:
            with self.tracer.span("op", op.name):
                out = op.fn(n_pass)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            err = f"{op.name}: {type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        self.op_time += dt
        out = out or Outcome()
        if err is None and out.check is not None:
            self.untimed(f"{op.name}/check")
            t = time.perf_counter()
            try:
                with self.tracer.paused():
                    err = out.check()
            except Exception as e:  # noqa: BLE001
                err = f"{op.name}: check raised {type(e).__name__}: {e}"
            self.check_s[op.name] = self.check_s.get(op.name, 0.0) + time.perf_counter() - t
        if err is not None:
            self.failures.append(err)
            return dt
        for run_id in out.runs:
            self.stream_runs[run_id] = op.name
        for s in out.samples or [dt]:
            self.samples.append((op.name, s))
        return dt

    # -- results ------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat = [s for _, s in self.samples] or [float("nan")]
        return {
            "setup_s": (self.timing["setup_s"], "s"),
            "pass_s": (statistics.median(self.passes), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
        }

    def tail(self) -> dict:
        """The highest percentile with at least ten samples beyond it."""
        lat = sorted(s for _, s in self.samples)
        n = len(lat)
        if n >= 100:
            return {"name": "op_p90_s", "value": percentile(lat, 90), "n": n}
        if n < 11:
            return {"name": None, "value": None, "n": n}
        q = int(100 * (n - 10) / n)
        return {"name": f"op_p{q}_s", "value": percentile(lat, q), "n": n}

    def stamp(self, load_start: float) -> dict:
        """Contention stamp: load before and after, cores, and the
        control operation at start, middle and end. ``suspect`` when
        the machine was already busier than its cores when the run
        started, or a later control reading is more than half again
        as slow as the first. (The control only speeds up as the JIT
        warms, so a slowdown means contention. The load at the end
        includes the run's own work, so it is recorded but not
        judged.)"""
        load_end = os.getloadavg()[0]
        c = self.control_s
        drift = max(c) / c[0] - 1
        ncpu = len(os.sched_getaffinity(0))
        return {
            "nproc": ncpu,
            "loadavg_start": round(load_start, 2),
            "loadavg_end": round(load_end, 2),
            "control": CONTROL,
            "control_s": [round(x, 4) for x in c],
            "control_drift": round(drift, 3),
            "suspect": bool(load_start > ncpu or drift > 0.5),
        }
