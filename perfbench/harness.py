"""Shared run machinery: session set-up rounds, the closed-loop timed
window, latency statistics and the per-op Spark/py4j accounting.
"""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field

from spans import Py4jCounter, RssSampler, Tracer, job_counts, jvm_pid


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100)."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(p / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) for the highest percentile with at least ten
    samples beyond it; the maximum when there are too few samples."""
    n = len(values)
    for p in (99.9, 99, 95, 90, 80, 75, 70, 60, 50):
        if n * (1 - p / 100.0) >= 10:
            return percentile(values, p), p
    return max(values), 100.0


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    traced: bool
    rows: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    py4j: int = 0
    detail: dict = field(default_factory=dict)


class Harness:
    def __init__(self, seed: int, seconds: float, trace: bool, work_dir: str, cpus: int):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work_dir = work_dir
        self.cpus = cpus
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.session_starts: list[float] = []
        self.setup_rounds: list[float] = []
        self.warmup_s = 0.0
        self.ops: list[Op] = []
        self.window_s = 0.0
        self.pass_len = 1
        self.trace_ops = 0
        self.sampler: RssSampler | None = None
        self.py4j: Py4jCounter | None = None

    # -- session -----------------------------------------------------------

    def _session(self):
        from bigquery_etl_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        # heap well under host RAM: local mode runs every task in this JVM
        self.spark = get_spark(
            app_name="perfbench", cpus=self.cpus, driver_memory="1g",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.session_starts.append(time.perf_counter() - t0)
        if self.sampler is None:
            self.sampler = RssSampler(jvm_pid(self.spark))

    def setup(self, prepare, warmup, rounds: int) -> None:
        """Run ``rounds`` set-up rounds, each a session (re)start
        plus ``prepare(round)``, which builds the workload's state afresh;
        the last round's state is the one the timed window uses. Round 0
        also launches the JVM. Then ``warmup()`` once, outside setup_s."""
        for r in range(rounds):
            t0 = time.perf_counter()
            self._session()
            prepare(r)
            self.setup_rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        warmup()
        self.warmup_s = time.perf_counter() - t0

    @property
    def setup_s(self) -> float:
        return statistics.median(self.setup_rounds)

    # -- timed window --------------------------------------------------------

    def run_window(self, step, pass_len: int = 1) -> None:
        """Closed loop: call ``step(i) -> Op`` in passes of ``pass_len``
        ops until ``seconds`` have passed; the clock is read only between
        passes, so every run times whole passes.

        With tracing on, the first two passes alternate untraced and
        traced ops; ``pass_len`` is odd, so every op position is traced
        once and run untraced once, and the per-layer figures and the
        overhead come from a fixed set of ops whatever the host's speed."""
        sc = self.spark.sparkContext
        self.pass_len = pass_len
        self.trace_ops = 2 * pass_len if self.trace else 0
        if self.trace:
            self.py4j = Py4jCounter(self.spark)
        start = time.perf_counter()
        i = 0
        while i % pass_len or i < self.trace_ops or time.perf_counter() - start < self.seconds:
            counted = i < self.trace_ops
            traced = counted and i % 2 == 1
            group = f"perfbench-op-{i}"
            if counted:
                sc.setJobGroup(group, group)
                calls0 = self.py4j.calls
            self.tracer.active, self.tracer.op = traced, i
            op = step(i)
            self.tracer.active = False
            op.traced = traced
            if counted:
                op.py4j = self.py4j.calls - calls0
                op.jobs, op.stages, op.tasks = job_counts(self.spark, group)
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.ops.append(op)
            i += 1
        self.window_s = time.perf_counter() - start
        if self.trace:
            self.py4j.close()

    def timed(self, kind: str, fn) -> tuple[Op, object]:
        """Time ``fn()`` as one op; an exception marks the op failed."""
        t0 = time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            result, ok = exc, False
        return Op(kind, time.perf_counter() - t0, ok, False), result

    # -- reporting ------------------------------------------------------------

    def pass_latencies(self) -> list[float]:
        """Latency of each whole pass: the summed latency of its ops."""
        k = self.pass_len
        return [sum(o.seconds for o in self.ops[i:i + k]) for i in range(0, len(self.ops), k)]

    def per_op_counts(self) -> dict[str, float]:
        traced = [o for o in self.ops if o.traced]
        n = len(traced)
        return {
            "spark.jobs_per_op": sum(o.jobs for o in traced) / n,
            "spark.stages_per_op": sum(o.stages for o in traced) / n,
            "spark.tasks_per_op": sum(o.tasks for o in traced) / n,
            "py4j.calls_per_op": sum(o.py4j for o in traced) / n,
        }

    def overhead_ratio(self) -> float:
        """Geometric mean over op kinds of traced ÷ untraced median latency,
        over the ops of the two traced passes."""
        by_kind: dict[str, tuple[list[float], list[float]]] = {}
        for o in self.ops[:self.trace_ops]:
            by_kind.setdefault(o.kind, ([], []))[o.traced].append(o.seconds)
        ratios = [statistics.median(t) / statistics.median(u)
                  for u, t in by_kind.values() if t and u]
        return statistics.geometric_mean(ratios) if ratios else 0.0

    def close(self) -> dict[str, float]:
        """Stop everything; returns the peak-memory parts in MB."""
        peak = self.sampler.parts_mb() if self.sampler else {}
        if self.sampler:
            self.sampler.close()
        self.tracer.restore()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        _stop_jvm()
        return peak


def _stop_jvm() -> None:
    """End the driver JVM PySpark launched and wait for it; its Python
    workers exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
