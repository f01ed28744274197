"""Run context shared by the workloads: sessions, set-up, work dirs and
the result the benchmark prints."""

from __future__ import annotations

import os
import shutil
import subprocess
import time
from dataclasses import dataclass, field
from typing import Callable

from perfbench.measure import Tracer, descendants, median

SETUPS = 3  # set-ups per run; setup_s is their median

E2E_UNITS = {
    "setup_s": "s",
    "deliver_rec_per_s": "1/s",
    "ack_p50_s": "s",
    "ack_p99_s": "s",
    "queries_total_s": "s",
    "rss_peak_mb": "MB",
}


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(what)


class Run:
    def __init__(self, seed: int, seconds: float, trace: bool, work: str):
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.work = work
        self.spark = None
        self.result = Result()
        self.window: tuple[int, int | None] = (0, None)  # spans of the measured region
        self._dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{self._dirs:04d}-{tag}")
        os.makedirs(path)
        return path

    def start_session(self, cpus: str | None = None):
        """(Re)start the engine session; ``cpus`` None means get_spark's
        own default, $SPARK_GRAFT_CPUS."""
        from awsbeats_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark("perfbench", cpus=cpus)
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def set_up(self, warmup: Callable[[], None]) -> None:
        """Session start plus warmup, ``SETUPS`` times; setup_s is the
        median. The first is cold; later ones restart the session in the
        same JVM and warm up again."""
        times = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            self.start_session()
            with self.tracer.span("session.warmup"):
                warmup()
            times.append(time.perf_counter() - t0)
        self.result.e2e["setup_s"] = median(times)
        self.result.notes.append("set-ups: " + ", ".join(f"{t:.2f}s" for t in times))

    def close(self) -> None:
        """Stop Spark and its JVM and wait until every child has ended."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        deadline = time.monotonic() + 20
        while descendants() and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in descendants():
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        shutil.rmtree(self.work, ignore_errors=True)
