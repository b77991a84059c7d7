"""Out-of-program tracing: spans around calls into the program's modules,
Spark job-group counts, a py4j call counter and /proc memory sampling.

Nothing here edits the program. ``Tracer.wrap`` replaces a module or
instance attribute with a timing wrapper for the life of the tracer and
``Tracer.restore`` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    op: int
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Keeps spans in memory; the driver thread is the only caller, so a
    plain stack gives each span its parent."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False  # spans are recorded only while an op is traced
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = -1

    # -- spans ------------------------------------------------------------

    def begin(self, name: str, **attrs) -> int | None:
        if not self.active:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), self.op, parent, attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = self.begin(name, **attrs)
        try:
            yield
        finally:
            self.end(idx)

    def count(self, name: str, inc: float = 1) -> None:
        if self.active:
            self.counts[name] = self.counts.get(name, 0) + inc

    # -- wrapping -----------------------------------------------------------

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``.
        ``on_result(result, args, kwargs)`` may add counts."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = self.begin(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.end(idx)
            if on_result is not None and idx is not None:
                on_result(result, args, kwargs)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- reduction ------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover (children nest strictly on one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.end - s.start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "op": s.op, **s.attrs}) + "\n")


class Py4jCounter:
    """Counts commands sent over the py4j gateway connection."""

    def __init__(self, spark):
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return jobs, stages, tasks


# -- /proc memory ---------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return out


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")).startswith("python")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return False


class RssSampler:
    """Samples the driver JVM's Python workers every ``period`` s.

    peak = VmHWM of this process + VmHWM of the JVM + the largest sum,
    over one sample, of the VmHWM of the workers alive in it (a worker's
    own high-water mark is lost when it exits, so it is read while the
    worker lives)."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period = period
        self.workers_peak_kb = 0
        self.workers_max = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def _workers(self) -> list[int]:
        """Python worker processes under the JVM. Other children (the
        JVM's process-spawn helper, shell commands) are skipped: until it
        execs, a vfork child reports the JVM's own memory and command line."""
        out, todo = [], _children(self.jvm_pid)
        while todo:
            pid = todo.pop()
            if _is_python(pid):
                out.append(pid)
            todo.extend(_children(pid))
        return out

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            pids = self._workers()
            kb = sum(_status_kb(p, "VmHWM:") for p in pids)
            self.workers_peak_kb = max(self.workers_peak_kb, kb)
            self.workers_max = max(self.workers_max, len(pids))

    def parts_mb(self) -> dict[str, float]:
        return {"driver": _status_kb(os.getpid(), "VmHWM:") / 1024.0,
                "jvm": _status_kb(self.jvm_pid, "VmHWM:") / 1024.0,
                "workers": self.workers_peak_kb / 1024.0}

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def jvm_pid(spark) -> int:
    """PID of the driver JVM (the gateway process PySpark launched)."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
