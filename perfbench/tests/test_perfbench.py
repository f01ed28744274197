"""Unit tests of the benchmark's own parts; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os

import numpy as np
import pytest

from perfbench.measure import Tracer, tail_percentile
from perfbench.standin import StandInFactory, read_acks
from perfbench.workload import (
    CORRUPT_SHARE,
    DROP_SHARE,
    KIND_CORRUPT,
    KIND_DROP,
    THROTTLE_SHARE,
    LiveSchedule,
    event_block,
    throttle_salt,
    throttled,
    throttled_mask,
    write_backlog,
    write_catalog,
)


def test_backlog_is_a_function_of_the_seed(tmp_path):
    a = write_backlog(3, 5000, 4, str(tmp_path / "a"))
    b = write_backlog(3, 5000, 4, str(tmp_path / "b"))
    c = write_backlog(4, 5000, 4, str(tmp_path / "c"))
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b")) and len(names) == 4
    _, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert not mismatch and not errors
    assert a.lines == b.lines
    assert a.lines != c.lines


def test_live_ticks_are_a_function_of_seed_and_start():
    s1 = LiveSchedule(9, 1_700_000_000_000_000_000, 2.0, 0)
    s2 = LiveSchedule(9, 1_700_000_000_000_000_000, 2.0, 0)
    assert s1.n_files == 20 and len(s1.block(0).lines) == 100
    assert [s1.block(i).lines for i in range(3)] == [s2.block(i).lines for i in range(3)]
    assert s1.due_ns(10) - s1.due_ns(0) == 1_000_000_000
    # every event of a tick is created at the tick's due time
    assert set(s1.block(4).ts_us.tolist()) == {s1.due_ns(4) // 1000}


def test_seeded_shares_of_corrupt_and_dropped_lines():
    block = event_block(1, 1, 0, 200_000, 0)
    corrupt = block.kind == KIND_CORRUPT
    assert abs(corrupt.mean() - CORRUPT_SHARE) < 0.002
    assert abs((block.kind == KIND_DROP).mean() - DROP_SHARE) < 0.003
    i = int(np.flatnonzero(corrupt)[0])
    with pytest.raises(ValueError):
        __import__("json").loads(block.lines[i])


def test_catalog_tables_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    ca = write_catalog(str(tmp_path / "a"), 5, scale=0.001)
    cb = write_catalog(str(tmp_path / "b"), 5, scale=0.001)
    assert ca == cb and ca["lineitem"] == 6000
    for name in ca:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet")), name


def _records(ids):
    return [{"data": f'{{"event_id":{i}}}\n', "partition_key": f"{1000 + i:016d}{i:012d}"} for i in ids]


def test_stand_in_refuses_the_seeded_share_exactly_once(tmp_path):
    client = StandInFactory(str(tmp_path), seed=7)(None)
    refused = []
    for start in range(0, 100_000, 500):
        chunk = _records(range(start, start + 500))
        resp = client.put_records(chunk)
        assert len(resp["Records"]) == len(chunk)
        codes = [e["ErrorCode"] for e in resp["Records"]]
        assert resp["FailedRecordCount"] == sum(1 for c in codes if c)
        refused += [r for r, c in zip(chunk, codes) if c]
    assert abs(len(refused) / 100_000 - THROTTLE_SHARE) < 0.002
    # the retry of every refused record is acked
    retry = client.put_records(refused)
    assert retry["FailedRecordCount"] == 0
    log = read_acks(str(tmp_path))
    assert log.failed == len(refused) and log.sent == 100_000 + len(refused)
    assert sorted(log.event_id.tolist()) == list(range(100_000))
    assert (log.due_us == log.event_id + 1000).all()


def test_vector_refusal_rule_matches_the_stand_ins():
    ids = np.arange(0, 200_000, dtype=np.int64)
    salt = throttle_salt(11)
    assert throttled_mask(ids, salt).tolist() == [throttled(int(e), salt) for e in ids]


def test_refusals_depend_on_the_seed(tmp_path):
    def refused(seed):
        c = StandInFactory(str(tmp_path / str(seed)), seed)(None)
        os.makedirs(c.factory.ack_dir, exist_ok=True)
        resp = c.put_records(_records(range(5000)))
        return {i for i, e in enumerate(resp["Records"]) if e["ErrorCode"]}

    assert refused(1) == refused(1)
    assert refused(1) != refused(2)


@pytest.mark.parametrize(
    "n, p",
    [(5, 50.0), (19, 50.0), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0),
     (9999, 99.0), (10_000, 99.9), (100_000, 99.99), (10**7, 99.99)],
)  # fmt: skip
def test_percentile_rule_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_tracer_records_parents_only_when_enabled():
    on, off = Tracer(True), Tracer(False)
    for tr in (on, off):
        with tr.span("outer") as t:
            with tr.span("inner"):
                pass
        assert t.seconds >= 0
    assert off.spans == []
    assert [(s[0], s[3]) for s in on.spans] == [("outer", None), ("inner", 0)]
    assert on.spans[0][1] <= on.spans[1][1] <= on.spans[1][2] <= on.spans[0][2]


def test_pipeline_config_is_valid():
    from awsbeats_spark.pipeline_config import build_sink_config
    from perfbench.deliver import pipeline_config

    cfg = build_sink_config(pipeline_config("in")["output"])
    assert cfg.partition_key_provider == "xid" and cfg.batch_size == 500
