"""The repo benchmark: one workload per process, one JSON line at the end.

    python3 perfbench/run.py --workload deliver_backlog --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md for what each metric means on each):

* ``deliver_backlog`` closed-loop drains of a seeded 200k-event NDJSON
  backlog through ``pipeline_config.build_pipeline`` to a stand-in client.
* ``deliver_live``    an open-loop generator process at 1k events/s, 1 s
  flush, with corrupt, dropped and once-refused events.
* ``catalog_queries`` bench.py's HEADLINE operators over seeded tables.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around every call into the engine, writes them under perfbench/work/traces
and prints the per-layer metrics instead. Human-readable lines come first;
the last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Environment variables naming directories: made absolute and kept under
# the checkout, defaulting into the benchmark's work dir when unset.
DIR_VARS = ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_SINK_DUMP_DIR")

SESSION_LAYERS = {"session.get_spark_s": "s", "session.warmup_s": "s"}
DELIVERY_LAYERS = {
    "pipeline.build_pipeline_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.input_rows": "count",
    "streaming.batches": "count",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_ms": "ms",
    "sinks.put_calls": "count",
    "sinks.records_per_call": "count",
    "sinks.put_busy_s": "s",
    "sinks.payload_bytes": "B",
    "sinks.failed_entries": "count",
    "sinks.retried_records": "count",
    "sinks.useful_ratio": "ratio",
    "gen.late_max_s": "s",
    "gen.backlog_end_records": "count",
    "deliver.rec_per_s_1core": "1/s",
}
CATALOG_LAYERS = {
    "registry.load_all_s": "s",
    "catalog.tables_s": "s",
    "operators.plan_s": "s",
    "operators.exec_s": "s",
}
RUN_LAYERS = {"failed_share": "ratio", "trace.spans": "count", "trace.overhead_s": "s"}


def pin_environment(work: str) -> None:
    for var in DIR_VARS:
        path = os.path.abspath(os.environ.get(var) or os.path.join(work, var.lower()))
        os.makedirs(path, exist_ok=True)
        os.environ[var] = path
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # executor Python workers unpickle the stand-in client by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def layer_metrics(run, workload: str) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run. A layer the workload does not
    touch in this run reads 0; the catalog's layers are listed only for
    the catalog workload."""
    from perfbench.harness import E2E_UNITS

    tr = run.tracer
    res = run.result
    units = dict(SESSION_LAYERS)
    if workload == "catalog_queries":
        from bench import HEADLINE

        units.update(CATALOG_LAYERS)
        units.update({f"query.{name}_s": "s" for name in HEADLINE})
    else:
        units.update(DELIVERY_LAYERS)
    units.update(RUN_LAYERS)
    lay = {name: (0.0, unit) for name, unit in units.items()}
    for span in ("session.get_spark", "session.warmup", "registry.load_all", "catalog.tables", "pipeline.build_pipeline"):
        if f"{span}_s" in lay and tr.count(span):
            lay[f"{span}_s"] = (tr.total_s(span) / tr.count(span), "s")
    if workload == "catalog_queries":
        lay["operators.plan_s"] = (tr.total_s("operators.plan", *run.window), "s")
        lay["operators.exec_s"] = (tr.total_s("operators.exec", *run.window), "s")
    lay.update((k, (v, units[k])) for k, v in res.layer.items() if k in units)
    lay["failed_share"] = (res.failed / res.attempted if res.attempted else 1.0, "ratio")
    lay["trace.spans"] = (float(len(tr.spans)), "count")
    lay["trace.overhead_s"] = (len(tr.spans) * tr.span_cost_s(), "s")
    for name, value in res.e2e.items():
        lay[f"traced.{name}"] = (value, E2E_UNITS[name])
    return lay


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=["deliver_backlog", "deliver_live", "catalog_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import awsbeats_spark  # noqa: F401 - the program under test must be present
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work_root = os.path.join(HERE, "work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(work)

    from perfbench import catalog_queries, deliver
    from perfbench.harness import E2E_UNITS, Run

    workloads = {
        "deliver_backlog": deliver.backlog_workload,
        "deliver_live": deliver.live_workload,
        "catalog_queries": catalog_queries.workload,
    }
    run = Run(args.seed, args.seconds, bool(args.trace), work)
    t0 = time.perf_counter()
    try:
        workloads[args.workload](run)
        if args.trace:
            metrics = layer_metrics(run, args.workload)
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            run.tracer.dump(os.path.join(traces, f"{args.workload}-{args.seed}.json"))
        else:
            metrics = {name: (value, E2E_UNITS[name]) for name, value in run.result.e2e.items()}
    finally:
        run.close()
    res = run.result
    for note in res.notes:
        print(f"# {note}")
    for problem in res.problems:
        print(f"! {problem}")
    for name, (value, unit) in metrics.items():
        print(f"{name:34s} {value:14.6f} {unit}")
    print(f"# {args.workload} seed {args.seed}: {res.attempted} attempted, {res.failed} failed, "
          f"{time.perf_counter() - t0:.1f}s wall")  # fmt: skip
    print(
        json.dumps(
            {
                "correct": not res.problems,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
