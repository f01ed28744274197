"""Instrumented stand-in for the Kinesis bulk API.

``StandInFactory`` is the ``client_factory`` handed to
``pipeline_config.build_pipeline``; Spark pickles it into the executor
Python workers, where each partition builds a ``StandInClient``. The
client acks every record except the seeded throttled ids, which it
refuses once with a positional ``ErrorCode`` so that the sink's real
``collect_failed`` and capped backoff run. Every call appends one entry
to a per-client log under ``ack_dir``: the ack time, counts, bytes, the
acked partition keys and a sample of payloads. ``read_acks`` folds the
logs back together in the benchmark process.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from perfbench.workload import throttle_salt, throttled

REFUSED = {
    "ErrorCode": "ProvisionedThroughputExceededException",
    "ErrorMessage": "Rate exceeded for shard shardId-000000000000",
}
ACKED = {"ErrorCode": ""}
# payloads of ids divisible by this are logged for the content check
PAYLOAD_SAMPLE_EVERY = 97


@dataclass(frozen=True)
class StandInFactory:
    ack_dir: str
    seed: int

    def __call__(self, _cfg) -> "StandInClient":  # noqa: ANN001 - SinkConfig
        return StandInClient(self)


class StandInClient:
    """One per partition and micro-batch; retries of a chunk come back to
    the same instance, so "refuse once" is per-instance state."""

    def __init__(self, factory: StandInFactory):
        self.factory = factory
        self.salt = throttle_salt(factory.seed)
        self.refused: set[int] = set()
        self.path = os.path.join(factory.ack_dir, f"{os.getpid()}-{uuid.uuid4().hex}.log")

    def put_records(self, records: list[dict[str, Any]]) -> dict[str, Any]:
        t_in = time.perf_counter_ns()
        entries = []
        acked = []
        samples = []
        nbytes = 0
        for rec in records:
            pk = rec["partition_key"]
            eid = int(pk[16:])
            nbytes += len(rec["data"])
            if eid not in self.refused and throttled(eid, self.salt):
                self.refused.add(eid)
                entries.append(REFUSED)
                continue
            entries.append(ACKED)
            acked.append(pk)
            if eid % PAYLOAD_SAMPLE_EVERY == 0:
                samples.append(rec["data"])
        failed = len(records) - len(acked)
        ack_ns = time.time_ns()
        busy_ns = time.perf_counter_ns() - t_in
        head = json.dumps([ack_ns, len(records), failed, nbytes, busy_ns, samples])
        with open(self.path, "a") as fh:
            fh.write(head + "\n" + " ".join(acked) + "\n")
        return {"FailedRecordCount": failed, "Records": entries}


@dataclass
class AckLog:
    """Everything the stand-in saw, as arrays over acked records."""

    event_id: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    due_us: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    ack_ns: np.ndarray = field(default_factory=lambda: np.zeros(0, np.int64))
    calls: int = 0
    sent: int = 0
    failed: int = 0
    payload_bytes: int = 0
    busy_ns: int = 0
    samples: list[str] = field(default_factory=list)

    def first_ack_ns(self) -> dict[int, int]:
        """Earliest ack per event id (at-least-once: duplicates allowed)."""
        order = np.argsort(self.ack_ns, kind="stable")
        ids, first = np.unique(self.event_id[order], return_index=True)
        return dict(zip(ids.tolist(), self.ack_ns[order][first].tolist()))


def read_acks(ack_dir: str) -> AckLog:
    log = AckLog()
    keys: list[bytes] = []
    acks: list[np.ndarray] = []
    for name in sorted(os.listdir(ack_dir)):
        with open(os.path.join(ack_dir, name), "rb") as fh:
            data = fh.read()
        # a client may be writing while a live run polls: whole entries only
        lines = data[: data.rfind(b"\n") + 1].split(b"\n")[:-1]
        for head, line in zip(lines[0::2], lines[1::2]):
            ack_ns, n, failed, nbytes, busy_ns, samples = json.loads(head)
            log.calls += 1
            log.sent += n
            log.failed += failed
            log.payload_bytes += nbytes
            log.busy_ns += busy_ns
            log.samples.extend(samples)
            keys.append(line)
            acks.append(np.full(n - failed, ack_ns, dtype=np.int64))
    # xid keys are 28 digits: 16 of creation micros, then 12 of event id
    joined = b" ".join(k for k in keys if k)
    digits = np.frombuffer(joined + b" " if joined else b"", dtype=np.uint8).reshape(-1, 29)[:, :28] - 48
    weights = 10 ** np.arange(15, -1, -1, dtype=np.int64)
    log.due_us = digits[:, :16].astype(np.int64) @ weights
    log.event_id = digits[:, 16:].astype(np.int64) @ weights[4:]
    log.ack_ns = np.concatenate(acks) if acks else np.zeros(0, np.int64)
    return log
