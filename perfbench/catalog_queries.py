"""The catalog workload: bench.py's HEADLINE operators, one at a time in a
closed loop, over seeded catalog tables; each checked afterwards against
its DuckDB oracle (or, for the rows-only delivery operator, against the
records it must deliver)."""

from __future__ import annotations

import json
import os
import time

import numpy as np

from perfbench.harness import Run
from perfbench.measure import RssSampler, median, percentile, tail_percentile
from perfbench.workload import write_catalog

SINK_OP = "sink_kinesis_batched_retry"
DUMP_ENV = "SPARK_GRAFT_SINK_DUMP_DIR"
CATALOG_SCALE = 0.01


class Catalog:
    def __init__(self, run: Run, data_dir: str, dump_root: str):
        from bench import HEADLINE

        self.run = run
        self.data_dir = data_dir
        self.dump_root = dump_root
        self.names = list(HEADLINE)
        self.specs = None
        self.sink_calls: list[tuple[int, str]] = []  # timed: (start ns, dump dir)
        self._dumps = 0

    def load(self) -> None:
        from awsbeats_spark.catalog import TABLE_NAMES, tables
        from awsbeats_spark.registry import load_all

        tr = self.run.tracer
        with tr.span("registry.load_all"):
            self.specs = load_all()
        with tr.span("catalog.tables"):
            cat = tables(self.run.spark, self.data_dir)
            for name in TABLE_NAMES:
                cat[name]

    def dump_dir(self) -> str:
        self._dumps += 1
        d = os.path.join(self.dump_root, f"{self._dumps:04d}")
        os.makedirs(d)
        os.environ[DUMP_ENV] = d
        return d

    def execute(self, name: str, record_sink: bool) -> float:
        """One timed query: build the DataFrame, then force it through the
        noop sink exactly as bench.py does."""
        tr = self.run.tracer
        spec = self.specs[name]
        if name == SINK_OP:
            d = self.dump_dir()
            if record_sink:
                self.sink_calls.append((time.time_ns(), d))
        with tr.span(f"query.{name}") as t:
            with tr.span("operators.plan"):
                df = spec.fn(self.run.spark, self.data_dir)
            with tr.span("operators.exec"):
                df.write.format("noop").mode("overwrite").save()
        return t.seconds


def workload(run: Run) -> None:
    data_dir = run.fresh_dir("catalog")
    counts = write_catalog(data_dir, run.seed, CATALOG_SCALE)
    cat = Catalog(run, data_dir, run.fresh_dir("sink-dump"))

    def warmup() -> None:
        cat.load()
        for name in cat.names:
            cat.execute(name, record_sink=False)

    run.set_up(warmup)
    times: dict[str, list[float]] = {n: [] for n in cat.names}
    with RssSampler() as rss:
        t_end = time.perf_counter() + run.seconds
        first_span = run.tracer.mark()
        rounds = 0
        while rounds == 0 or time.perf_counter() < t_end:
            for name in cat.names:
                times[name].append(cat.execute(name, record_sink=True))
            rounds += 1
        run.window = (first_span, run.tracer.mark())
    res = run.result
    per_query = {n: median(v) for n, v in times.items()}
    res.e2e["queries_total_s"] = sum(per_query.values())
    res.e2e["deliver_rec_per_s"] = counts["events"] / per_query[SINK_OP]
    res.e2e["rss_peak_mb"] = rss.peak_mb
    lat = sink_latencies(cat.sink_calls)
    tail = min(99.0, tail_percentile(len(lat)))
    res.e2e["ack_p50_s"] = percentile(lat, 50)
    res.e2e["ack_p99_s"] = percentile(lat, tail)
    res.notes.append(f"{rounds} rounds of {len(cat.names)} queries; sink tail at p{tail:g} of {len(lat)} records")
    for n, v in per_query.items():
        res.layer[f"query.{n}_s"] = v
    check(run, cat, counts)


def sink_latencies(calls: list[tuple[int, str]]) -> np.ndarray:
    """Per delivered record: the dump file's write time (the stand-in's
    ack) minus the start of the query that delivered it."""
    lat = []
    for start_ns, d in calls:
        for root, _dirs, files in os.walk(d):
            for f in files:
                path = os.path.join(root, f)
                with open(path) as fh:
                    n = len(json.load(fh))
                lat.extend([(os.stat(path).st_mtime_ns - start_ns) / 1e9] * n)
    return np.array(lat)


def expected_keys(data_dir: str) -> list[str]:
    """xid partition keys of the events table, as project_records builds them."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "events.parquet"), columns=["event_id", "ts"])
    ts = t["ts"].cast("int64").to_numpy()
    ids = t["event_id"].to_numpy()
    return sorted(f"{a:016d}{b:012d}" for a, b in zip(ts.tolist(), ids.tolist()))


def check(run: Run, cat: Catalog, counts: dict[str, int]) -> None:
    """Outside the timed region: oracle comparison per operator; the
    delivery operator gets its own invocation and dump directory."""
    from tools.verify_local import compare, duck_con

    res = run.result
    con = duck_con(cat.data_dir)
    for name in cat.names:
        res.attempted += 1
        spec = cat.specs[name]
        try:
            if name == SINK_OP:
                ok, msg = check_sink(run, cat)
            else:
                status, msg = compare(name, spec.fn(run.spark, cat.data_dir).toPandas(), con.sql(spec.oracle).df())
                ok = status in ("OK", "WEAK")
        except Exception as exc:  # noqa: BLE001 - a failing query is a result
            ok, msg = False, f"raised {type(exc).__name__}: {exc}"
        if not ok:
            res.failed += 1
            res.problems.append(f"{name}: {msg}")
    con.close()


def check_sink(run: Run, cat: Catalog) -> tuple[bool, str]:
    d = cat.dump_dir()
    pdf = cat.specs[SINK_OP].fn(run.spark, cat.data_dir).toPandas()
    want = expected_keys(cat.data_dir)
    if sorted(pdf["partition_key"]) != want:
        return False, f"manifest keys differ from the events table ({len(pdf)} rows, {len(want)} events)"
    dumped = []
    for root, _dirs, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f)) as fh:
                dumped.extend(json.load(fh))
    if sorted(r["partition_key"] for r in dumped) != want:
        return False, f"dump holds {len(dumped)} records, not the {len(want)} events"
    lens = dict(zip(pdf["partition_key"], pdf["data_len"]))
    if any(lens[r["partition_key"]] != len(r["data"]) for r in dumped):
        return False, "manifest data_len differs from the delivered payload"
    return True, f"{len(want)} records delivered once"
