"""Measurement helpers that sit beside the engine, never inside it: spans kept
in memory, a process-tree memory sampler, machine probes, and the Spark event
log reader for the traced run."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


def pct(values: list[float], p: int) -> float:
    """p-th percentile (inclusive interpolation) of a non-empty sample."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Tracer:
    """Spans (name, start, end, parent, attributes) kept in memory and
    written out once at exit. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children(pid: int, ppid_of: dict[int, int]) -> set[int]:
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in ppid_of.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of `pid` and all its descendants (the JVM, the Python
    daemon and its workers), from /proc/<pid>/stat."""
    ppid_of, rss_of = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        ppid_of[int(d)] = int(fields[1])
        rss_of[int(d)] = int(fields[21])
    return _PAGE * sum(rss_of[p] for p in _children(pid, ppid_of) if p in rss_of)


class RssSampler:
    """Samples the process tree's resident memory every `interval` seconds
    on one thread and keeps the peak of the running median of three samples.
    The median drops one-sample spikes: while the JVM spawns a helper
    process, the child briefly shares the JVM's memory map and /proc counts
    that memory twice."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._last: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self._last = (self._last + [tree_rss_bytes(os.getpid())])[-3:]
            self.peak = max(self.peak, sorted(self._last)[len(self._last) // 2])
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def machine_probe() -> dict:
    """Load average and a fixed CPU spin rate (million loop iterations per
    second of one Python thread), taken at the start and end of a run so a
    noisy run can be told apart from a slow program."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.1:
        for _ in range(10_000):
            n += 1
    return {
        "loadavg_1m": os.getloadavg()[0],
        "spin_mops": n / (time.perf_counter() - t0) / 1e6,
    }


def event_log_totals(log_dir: str, t_from: float, t_to: float) -> dict:
    """Sum task metrics from the Spark event log over tasks launched in
    [t_from, t_to] (epoch seconds)."""
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0, "executor_cpu_s": 0.0}
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev["Task Info"]["Launch Time"] / 1000
                m = ev.get("Task Metrics")
                if m is None or not t_from <= launch <= t_to:
                    continue
                out["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                out["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                out["gc_s"] += m["JVM GC Time"] / 1000
                out["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
    return out
