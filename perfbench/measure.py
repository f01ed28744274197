"""Measurement primitives: spans, percentiles and process-tree RSS."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np

PERCENTILES = (50.0, 90.0, 99.0, 99.9, 99.99)


def tail_percentile(n: int) -> float:
    """The highest candidate percentile with at least ten of ``n`` samples
    beyond it; 50 when even the median has fewer."""
    best = PERCENTILES[0]
    for p in PERCENTILES:
        # the share beyond p in parts per million, exact for p like 99.9
        if n * round((100.0 - p) * 10_000) >= 10 * 1_000_000:
            best = p
    return best


def percentile(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), p))


def median(values) -> float:
    return float(np.median(np.asarray(values, dtype=np.float64)))


class Timer:
    __slots__ = ("start", "end")

    @property
    def seconds(self) -> float:
        return (self.end - self.start) / 1e9


class Tracer:
    """Spans ``[name, start_ns, end_ns, parent_index]`` kept in memory.

    ``span`` always times its block (the benchmark's own timings use it);
    only an enabled tracer keeps the span, so an untraced run pays one
    clock read pair per call and nothing else."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        t = Timer()
        rec = None
        if self.enabled:
            rec = [name, 0, 0, self._stack[-1] if self._stack else None]
            self._stack.append(len(self.spans))
            self.spans.append(rec)
        t.start = time.perf_counter_ns()
        try:
            yield t
        finally:
            t.end = time.perf_counter_ns()
            if rec is not None:
                rec[1], rec[2] = t.start, t.end
                self._stack.pop()

    def mark(self) -> int:
        return len(self.spans)

    def total_s(self, name: str, since: int = 0, until: int | None = None) -> float:
        return sum(e - s for n, s, e, _ in self.spans[since:until] if n == name) / 1e9

    def count(self, name: str) -> int:
        return sum(1 for n, *_ in self.spans if n == name)

    def span_cost_s(self, reps: int = 20000) -> float:
        """Measured cost of recording one span, on a throwaway tracer."""
        probe = Tracer(True)
        t0 = time.perf_counter_ns()
        for _ in range(reps):
            with probe.span("probe"):
                pass
        return (time.perf_counter_ns() - t0) / reps / 1e9

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["name", "start_ns", "end_ns", "parent"], "spans": self.spans}, fh)


def _process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    return _process_tree(os.getpid())[1:]


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of this process, the JVM and the Python workers,
    sampled from /proc on a background thread while active."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
