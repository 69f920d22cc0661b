"""Spans, process-tree CPU/RSS and Spark job counters for the benchmark.

Spans are kept in memory (name, start, end, parent, run id) and written out
when the run ends. Every span is recorded from the benchmark's own files,
around a call into one layer of the engine. When Spark counters are
enabled, each span's Spark work runs under its own job group, and the
span's jobs, stages and task metrics are read back from the status store.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")

#: Spark counters read per job group, with their units.
SPARK_COUNTERS = {
    "jobs": "count", "stages": "count", "tasks": "count", "task_run_s": "s",
    "executor_cpu_s": "s", "gc_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB",
}


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(command name, parent pid, CPU seconds incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return comm, int(fields[1]), ticks / CLK_TCK


def process_tree(root: int | None = None) -> dict[int, tuple[str, str, float]]:
    """{pid: (role, command, cpu_s)} for ``root`` and its descendants. Role
    is ``driver`` for the root, ``jvm`` for the Java child that hosts Spark
    and ``pyworker`` for the Python workers under it."""
    root = root or os.getpid()
    info = {}
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
                children[st[1]].append(int(name))
    out = {}
    stack = [(root, "driver")]
    while stack:
        pid, role = stack.pop()
        if pid not in info:
            continue
        comm, _, cpu = info[pid]
        out[pid] = (role, comm, cpu)
        for child in children.get(pid, ()):
            child_role = "pyworker" if role in ("jvm", "pyworker") else (
                "jvm" if info[child][0] == "java" else role
            )
            stack.append((child, child_role))
    return out


def cpu_by_role(root: int | None = None) -> dict[str, float]:
    totals = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for role, _, cpu in process_tree(root).values():
        totals[role] += cpu
    return totals


def tree_rss_mb(root: int | None = None) -> float:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * PAGE / 1e6


class RssSampler:
    """Background sampler of the summed RSS of this process tree."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def spark_counters(sc, group: str) -> Counter:
    """Jobs, completed stages and their task metrics for one job group."""
    from py4j.protocol import Py4JJavaError

    out: Counter = Counter()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stage_ids = set()
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # evicted from the status store, or never run
            continue
        if str(sd.status()) != "COMPLETE":
            continue  # skipped stages reuse an earlier shuffle
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["task_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
    return out


class Tracer:
    """In-memory span recorder. With ``enabled`` false, :meth:`span` only
    times its block, so the untraced run pays for no bookkeeping beyond two
    clock reads."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.sc = None  # the SparkContext, once the session exists
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, spark_group: bool = False, **attrs):
        """Yields a dict that receives ``seconds`` (and Spark counters when
        ``spark_group`` is set and tracing is on) once the block ends."""
        rec: dict = {"name": name, **attrs}
        if not self.enabled:
            t0 = time.perf_counter()
            yield rec
            rec["seconds"] = time.perf_counter() - t0
            return
        rec.update(run=self.run_id, parent=self._stack[-1] if self._stack else None)
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        group = None
        if spark_group and self.sc is not None:
            self._groups += 1
            group = f"perfbench-{self.run_id}-{self._groups}"
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["seconds"] = rec["end"] - rec["start"]
            self._stack.pop()
            if group is not None:
                # job-group spans never nest, so the group is simply cleared
                t0 = time.perf_counter()
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec["spark"] = dict(spark_counters(self.sc, group))
                self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """{span name: (calls, total seconds, self seconds)}; self time is a
        span's duration minus the time its child spans cover."""
        child_time: Counter = Counter()
        for rec in self.spans:
            if rec.get("parent") is not None:
                child_time[rec["parent"]] += rec["seconds"]
        out: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        for i, rec in enumerate(self.spans):
            row = out[rec["name"]]
            row[0] += 1
            row[1] += rec["seconds"]
            row[2] += rec["seconds"] - child_time[i]
        return {k: tuple(v) for k, v in out.items()}

    def table(self, title: str) -> str:
        rows = sorted(self.self_times().items(), key=lambda kv: -kv[1][2])
        lines = [f"where time went: {title}",
                 f"{'span':44s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s}"]
        for name, (calls, total, own) in rows:
            lines.append(f"{name:44s} {calls:5d} {total:9.3f} {own:9.3f}")
        return "\n".join(lines)

    def write(self, path: str, stamp: dict) -> None:
        with open(path, "w") as f:
            json.dump({"stamp": stamp, "spans": self.spans}, f)
