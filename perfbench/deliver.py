"""The delivery workloads: NDJSON files -> ``build_pipeline`` -> stand-in.

``deliver_backlog`` is a closed loop: each drain starts a pipeline on a
fresh copy of a seeded backlog and waits until it has processed all of it.
``deliver_live`` is an open loop: a separate generator process appends
small files on a fixed schedule and the pipeline runs with a 1 s flush.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
from dataclasses import dataclass
from functools import cached_property

import numpy as np

from perfbench.harness import Run
from perfbench.measure import RssSampler, median, percentile, tail_percentile
from perfbench.standin import AckLog, StandInFactory, read_acks
from perfbench.workload import (
    DROP_REGEX,
    KIND_OK,
    EventBlock,
    LiveSchedule,
    throttle_salt,
    throttled_mask,
    write_backlog,
)

BACKLOG_EVENTS = 200_000
BACKLOG_FILES = 16
FLUSH_S = 1.0  # queue.flush_timeout_s: the micro-batch trigger
LIVE_WARM_S = 2.0
LIVE_LEAD_S = 0.6  # the generator's first tick is due this long after launch
DRAIN_GRACE_S = 15.0  # how long after the window an event may still be acked
# untimed drains between the last set-up and the window. The JVM keeps
# compiling through its first ~9 drains (the set-ups' 3 plus these): its
# CPU time per drain falls from ~9 s to ~5.3 s on a 4-vCPU host, and a
# window opened earlier measures how far the JIT has got.
SETTLE_DRAINS = 6
HERE = os.path.dirname(os.path.abspath(__file__))


def pipeline_config(in_dir: str) -> dict:
    """A filebeat.yml-shaped config: tail NDJSON, add cloud metadata, drop
    ``debug`` events, deliver with xid keys in 500-record calls."""
    return {
        "input": {"paths": in_dir},
        "processors": [
            {"add_cloud_metadata": {"provider": "aws", "region": "us-east-1"}},
            {"drop_event": {"when_regexp": {"event_type": DROP_REGEX}}},
        ],
        "output": {
            "streams": {
                "region": "us-east-1",
                "stream_name": "perfbench",
                "partition_key_provider": "xid",
                "batch_size": 500,
                "max_retries": 3,
                "backoff_init_s": 0.05,
                "backoff_max_s": 1.0,
            }
        },
        "queue": {"flush_timeout_s": FLUSH_S},
    }


@dataclass
class Pass:
    """One pipeline run: what went in, when each event was due, what the
    stand-in saw, and the query's progress events for batches with input."""

    block: EventBlock
    due_ns: np.ndarray
    ack_dir: str
    progress: list
    elapsed_s: float

    @cached_property
    def acks(self) -> AckLog:
        """Read after the timed region: parsing the stand-in's log is the
        benchmark's work, not the pipeline's."""
        return read_acks(self.ack_dir)

    @property
    def surviving(self) -> np.ndarray:
        return self.block.surviving

    def acked_ids(self) -> np.ndarray:
        return np.unique(self.acks.event_id)

    def latencies_s(self, penalty_s: float) -> np.ndarray:
        """Due time to first ack per surviving event. An event never acked
        counts with ``penalty_s``, so failures raise the tail rather than
        vanish from it."""
        first = self.acks.first_ack_ns()
        ok = self.block.kind == KIND_OK
        due = dict(zip(self.block.event_id[ok].tolist(), self.due_ns[ok].tolist()))
        return np.array([(first[e] - d) / 1e9 if e in first else penalty_s for e, d in due.items()])

    def busy_s(self) -> float:
        """Micro-batch execution time: batches times the median batch, so
        one stalled batch does not swing it."""
        times = [x.durationMs.get("triggerExecution", 0) for x in self.progress]
        return len(times) * median(times) / 1000 if times else 0.0


def pipeline_dirs(run: Run, tag: str) -> dict[str, str]:
    d = run.fresh_dir(tag)
    dirs = {k: os.path.join(d, k) for k in ("in", "ckpt", "acks")}
    for p in dirs.values():
        os.makedirs(p)
    return dirs


def start_pipeline(run: Run, dirs: dict[str, str]):
    from awsbeats_spark.pipeline_config import build_pipeline

    factory = StandInFactory(dirs["acks"], run.seed)
    with run.tracer.span("pipeline.build_pipeline"):
        return build_pipeline(run.spark, pipeline_config(dirs["in"]), dirs["ckpt"], factory)


def _stop(q) -> list:
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    q.stop()
    return progress


def drain(run: Run, src_dir: str, block: EventBlock, tag: str) -> Pass:
    """Closed loop: land a full backlog, start a pipeline on it and return
    once all of it is done. The whole backlog is due when its files land.
    They land before the query starts, so its first trigger lists all of
    them: no drain waits for a later trigger or splits into two batches."""
    dirs = pipeline_dirs(run, tag)
    start_ns = time.time_ns()
    t0 = time.perf_counter()
    for name in sorted(os.listdir(src_dir)):
        os.link(os.path.join(src_dir, name), os.path.join(dirs["in"], name))
    q = start_pipeline(run, dirs)
    with run.tracer.span("streaming.drain"):
        q.processAllAvailable()
    elapsed = time.perf_counter() - t0
    due = np.full(len(block.event_id), start_ns, dtype=np.int64)
    return Pass(block, due, dirs["acks"], _stop(q), elapsed)


def live(run: Run, seconds: float, first_id: int, tag: str) -> tuple[Pass, dict]:
    """Open loop: the generator process writes on its own schedule; wait
    for its window to end, then for the pipeline to catch up."""
    dirs = pipeline_dirs(run, tag)
    q = start_pipeline(run, dirs)
    start_ns = time.time_ns() + int(LIVE_LEAD_S * 1e9)
    sched = LiveSchedule(run.seed, start_ns, seconds, first_id)
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"), "live",
        "--seed", str(sched.seed), "--out", dirs["in"], "--stage", dirs["in"] + ".stage",
        "--start-ns", str(sched.start_ns), "--seconds", str(seconds), "--first-id", str(first_id),
    ]  # fmt: skip
    block = EventBlock.concat([sched.block(i) for i in range(sched.n_files)])
    expected = len(block.surviving)
    t0 = time.perf_counter()
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as gen:
        out, _ = gen.communicate(timeout=seconds + 60)
    if gen.returncode != 0:
        q.stop()
        raise RuntimeError(f"live generator exited with {gen.returncode}")
    report = json.loads(out.strip().splitlines()[-1])
    report["window_end_ns"] = sched.start_ns + int(seconds * 1e9)
    deadline = time.monotonic() + DRAIN_GRACE_S
    while len(np.unique(read_acks(dirs["acks"]).event_id)) < expected and time.monotonic() < deadline:
        time.sleep(0.25)
    elapsed = time.perf_counter() - t0
    return Pass(block, block.ts_us * 1000, dirs["acks"], _stop(q), elapsed), report


def check_pass(run: Run, p: Pass, tag: str) -> None:
    """Every surviving event acked at least once; nothing dropped, corrupt
    or unknown arrived; sampled payloads equal their generated events; the
    stand-in refused exactly the seeded ids."""
    res = run.result
    acked = p.acked_ids()
    missing = np.setdiff1d(p.surviving, acked)
    unexpected = np.setdiff1d(acked, p.surviving)
    res.attempted += len(p.surviving)
    res.failed += len(missing)
    res.check(len(missing) == 0, f"{tag}: {len(missing)} surviving events were never acked")
    res.check(len(unexpected) == 0, f"{tag}: {len(unexpected)} acked ids were dropped, corrupt or unknown")
    b = p.block
    index = {e: i for i, e in enumerate(b.event_id.tolist())}
    for data in p.acks.samples:
        rec = json.loads(data)
        i = index.get(rec["event_id"])
        ok = (
            i is not None
            and data.endswith("\n")
            and rec["user_id"] == b.user_id[i]
            and rec["event_type"] == b.event_type[i]
            and rec["value"] == b.value[i]
            and json.loads(rec["props"]) == {"k": int(b.k[i])}
            and rec["ts"][:23] == _iso_ms(int(b.ts_us[i]))
            and (rec["cloud_provider"], rec["cloud_region"]) == ("aws", "us-east-1")
        )
        res.check(ok, f"{tag}: payload of event {rec['event_id']} differs from its input: {data!r}")
    seeded = int(throttled_mask(p.surviving, throttle_salt(run.seed)).sum())
    res.check(p.acks.failed == seeded, f"{tag}: stand-in refused {p.acks.failed} records, seeded {seeded}")


def _iso_ms(ts_us: int) -> str:
    """The millisecond prefix of ``to_json``'s rendering of a timestamp."""
    sec, us = divmod(ts_us, 1_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(sec)) + f".{us // 1000:03d}"


def _latency_metrics(run: Run, lat: list[np.ndarray]) -> None:
    """ack_p50_s and ack_p99_s: per pass, then the median over passes. The
    tail is p99 when ten events lie beyond it, else the highest percentile
    that has ten."""
    tail = min(99.0, min(tail_percentile(len(x)) for x in lat))
    run.result.e2e["ack_p50_s"] = median([percentile(x, 50) for x in lat])
    run.result.e2e["ack_p99_s"] = median([percentile(x, tail) for x in lat])
    run.result.notes.append(f"ack latency: {sum(map(len, lat))} events in {len(lat)} passes; tail at p{tail:g}")


def _layers(run: Run, passes: list[Pass]) -> None:
    lay = run.result.layer
    progress = [x for p in passes for x in p.progress]

    def per_batch(key: str) -> float:
        return median([x.durationMs.get(key, 0) for x in progress]) if progress else 0.0

    lay["sources.latest_offset_ms"] = per_batch("latestOffset")
    lay["sources.get_batch_ms"] = per_batch("getBatch")
    lay["sources.input_rows"] = median([x.numInputRows for x in progress]) if progress else 0.0
    lay["streaming.batches"] = float(len(progress))
    lay["streaming.query_planning_ms"] = per_batch("queryPlanning")
    lay["streaming.wal_commit_ms"] = per_batch("walCommit")
    lay["streaming.commit_offsets_ms"] = per_batch("commitOffsets")
    lay["streaming.add_batch_ms"] = per_batch("addBatch")
    lay["streaming.trigger_ms"] = per_batch("triggerExecution")
    calls = sum(p.acks.calls for p in passes)
    sent = sum(p.acks.sent for p in passes)
    failed = sum(p.acks.failed for p in passes)
    lay["sinks.put_calls"] = float(calls)
    lay["sinks.records_per_call"] = sent / calls if calls else 0.0
    lay["sinks.put_busy_s"] = sum(p.acks.busy_ns for p in passes) / 1e9
    lay["sinks.payload_bytes"] = float(sum(p.acks.payload_bytes for p in passes))
    lay["sinks.failed_entries"] = float(failed)
    # every refused record is sent again: retries are the sends beyond the
    # first of each record that reached the stand-in
    lay["sinks.retried_records"] = float(sent - sum(len(p.acked_ids()) for p in passes))
    lay["sinks.useful_ratio"] = sum(len(p.acked_ids()) for p in passes) / sent if sent else 0.0


def backlog_workload(run: Run) -> None:
    src = run.fresh_dir("backlog-src")
    block = write_backlog(run.seed, BACKLOG_EVENTS, BACKLOG_FILES, src)
    run.set_up(lambda: drain(run, src, block, "warm"))
    for _ in range(SETTLE_DRAINS):
        drain(run, src, block, "settle")
    passes = []
    with RssSampler() as rss:
        t_end = time.perf_counter() + run.seconds
        while not passes or time.perf_counter() < t_end:
            passes.append(drain(run, src, block, "drain"))
    t_checks = time.perf_counter()
    res = run.result
    for i, p in enumerate(passes):
        check_pass(run, p, f"drain {i}")
    rates = [len(p.acked_ids()) / p.elapsed_s for p in passes]
    res.e2e["deliver_rec_per_s"] = median(rates)
    _latency_metrics(run, [p.latencies_s(penalty_s=p.elapsed_s) for p in passes])
    res.e2e["rss_peak_mb"] = rss.peak_mb
    res.notes.append(f"{len(passes)} drains of {BACKLOG_EVENTS} events at " + ", ".join(f"{r:.0f}" for r in rates) + "/s")
    _layers(run, passes)
    res.notes.append(f"window {t_checks - t_end + run.seconds:.1f}s, checks {time.perf_counter() - t_checks:.1f}s")
    if run.tracer.enabled:
        single_core(run, src, block)


def single_core(run: Run, src: str, block: EventBlock) -> None:
    """Traced runs only: one warm-up and one measured drain on local[1]."""
    run.start_session(cpus="1")
    drain(run, src, block, "warm1")
    p = drain(run, src, block, "drain1")
    run.result.layer["deliver.rec_per_s_1core"] = len(p.acked_ids()) / p.elapsed_s


def live_workload(run: Run) -> None:
    warm_ids = iter(range(10_000_000, 10**12, 1_000_000))
    run.set_up(lambda: live(run, LIVE_WARM_S, next(warm_ids), "warm"))
    with RssSampler() as rss:
        p, report = live(run, run.seconds, 0, "live")
    res = run.result
    check_pass(run, p, "live")
    _latency_metrics(run, [p.latencies_s(penalty_s=run.seconds + DRAIN_GRACE_S)])
    # in an open loop the acked rate is the offered rate; what the engine
    # shows is how many records it delivers per second it is busy
    res.e2e["deliver_rec_per_s"] = len(p.acked_ids()) / p.busy_s() if p.busy_s() else 0.0
    res.e2e["rss_peak_mb"] = rss.peak_mb
    first = p.acks.first_ack_ns()
    late = [e for e in p.surviving.tolist() if first.get(e, math.inf) > report["window_end_ns"]]
    res.layer["gen.late_max_s"] = report["late_max_s"]
    res.layer["gen.backlog_end_records"] = float(len(late))
    res.notes.append(
        f"generator: {report['files']} files, {report['events']} events, late max {report['late_max_s']:.4f}s"
    )
    _layers(run, [p])
