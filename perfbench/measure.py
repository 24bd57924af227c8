"""Process-tree CPU and memory from ``/proc``, in-memory spans, and the
Spark event-log reader. Standard library only (psutil is not installed).

The process tree is this Python process plus every descendant: the
Spark JVM and the pyspark daemon with its Python workers.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree, including children
    each member has already reaped (pyspark workers end that way)."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_pss_mb() -> float:
    """Resident memory of the live tree as proportional set size: a page
    shared by forked workers counts once, split between them."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total_kb / 1024


class PeakRss:
    """Samples the tree's resident memory (``tree_pss_mb``) on a
    background thread; ``peak_mb`` is the largest sum seen. Use as a
    context manager."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())


class Tracer:
    """Spans kept in memory: (name, start, end, parent, run id). With
    ``enabled`` false, ``span`` only yields; nothing is recorded."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the time its
        direct children cover."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s, c in zip(self.spans, child_s):
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - c)
        return out

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def median_self(self, name: str) -> float:
        return statistics.median(self.self_times()[name])

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def spark_engine_metrics(eventlog_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Jobs, tasks, shuffle write, spill, GC and executor run time from
    the Spark event log, counting jobs submitted and tasks finished
    inside the given wall-clock windows (epoch seconds), averaged per
    window."""
    ms = [(a * 1000, b * 1000) for a, b in windows]

    def inside(t):
        return any(a <= t <= b for a, b in ms)

    jobs = tasks = 0
    shuffle = spill = gc = run = 0
    for name in os.listdir(eventlog_dir):
        with open(os.path.join(eventlog_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs += inside(ev.get("Submission Time", 0))
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not inside(info.get("Finish Time", 0)):
                        continue
                    m = ev.get("Task Metrics") or {}
                    tasks += 1
                    shuffle += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    gc += m.get("JVM GC Time", 0)
                    run += m.get("Executor Run Time", 0)
    k = max(len(windows), 1)
    return {
        "spark.jobs": (jobs / k, "count"),
        "spark.tasks": (tasks / k, "count"),
        "spark.shuffle_write_mb": (shuffle / 2**20 / k, "MB"),
        "spark.spill_mb": (spill / 2**20 / k, "MB"),
        "spark.gc_s": (gc / 1000 / k, "s"),
        "spark.executor_run_s": (run / 1000 / k, "s"),
    }


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, float]:
    """(number of files ending in ``suffix``, their total MB) under ``path``."""
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size / 2**20
