#!/usr/bin/env python3
"""Benchmark of the CDC engine, run from the root of a checkout:

    python3 perfbench/run.py --workload bulk_backfill --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts Spark at
``local[<cores>]``, warms up on the workload's own code path, measures
for ``--seconds`` seconds, then checks the outputs against independent
oracles. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a report with the host environment and the
workload's own named metrics. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("bulk_backfill", "curation")

END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s"}

QUERIES = ("q_dedup_minhash", "q_dedup_sweep", "q_tfidf", "q_cooccur", "q_dup_span", "q_pandas_udf")

PER_LAYER = {
    "streaming.replay.self_s": "s",
    "streaming.replay.overlap": "ratio",
    "sinks.snapshot.committed_s": "s",
    "sources.readers.read_wal_s": "s",
    "functions.transforms.probe_events_per_s": "events/s",
    "operators.lww.probe_events_per_s": "events/s",
    "operators.lww.shuffle_bytes_per_event": "B/event",
    "sinks.snapshot.plan_s": "s",
    "sinks.snapshot.merge_write_job_s": "s",
    "sinks.snapshot.publish_s": "s",
    "sinks.snapshot.append_commit_s": "s",
    "sinks.snapshot.compact_commit_s": "s",
    "sinks.snapshot.appended_buckets": "count",
    "sinks.snapshot.compacted_buckets": "count",
    "sinks.snapshot.bytes_written_per_event": "B/event",
    "sinks.snapshot.metadata_bytes": "B",
    "sinks.snapshot.table_bytes_per_live_row": "B/row",
    "sinks.snapshot.lookup_plan_s": "s",
    "sinks.snapshot.lookup_exec_s": "s",
    "sinks.snapshot.lookup_files_read": "count",
    "sinks.snapshot.scan_range_files_read": "count",
    "sinks.snapshot.full_read_files_read": "count",
    "sinks.snapshot.delta_depth_mean": "count",
    "sinks.snapshot.delta_depth_max": "count",
    **{f"plans.queries.{q}_s": "s" for q in QUERIES},
    **{f"plans.queries.{q}_shuffle_bytes": "B" for q in QUERIES},
    "spark.shuffle_write_bytes_per_event": "B/event",
    "spark.input_bytes_per_event": "B/event",
    "spark.task_busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.jobs_per_commit": "count",
    "spark.tasks_per_commit": "count",
    "spark.failed_tasks": "count",
    "harness.tracing_overhead": "ratio",
    "harness.span_coverage": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def make_workload(name: str, work: str, seed: int, tracer):
    from workloads import BulkBackfill, Curation

    return (BulkBackfill if name == "bulk_backfill" else Curation)(work, seed, tracer)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "beehive_data_etl_spark", "__init__.py")):
        print(f"perfbench: no engine package beehive_data_etl_spark under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from harness import Tracer, union_length
    from sparkenv import cpu_steal, describe, pin_environment, start_spark, stop_spark

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work)
    tracer = Tracer(bool(args.trace))
    wl = make_workload(args.workload, work, args.seed, Tracer(False))
    try:
        t0 = time.perf_counter()
        wl.generate()
        t_gen = time.perf_counter()
        spark = start_spark(work)
        t_jvm = time.perf_counter()
        try:
            wl.setup(spark)
            setup_s = time.perf_counter() - t0
            setup_phases = {"generate_s": t_gen - t0, "spark_start_s": t_jvm - t_gen,
                            "warmup_s": t0 + setup_s - t_jvm}
            wl.tracer = tracer
            t_measure = time.perf_counter()
            steal0 = cpu_steal()
            wl.measure(spark, args.seconds)
            steal1 = cpu_steal()
            measured_s = time.perf_counter() - t_measure
            t_check = time.perf_counter()
            attempted, failed = wl.check(spark)
            check_s = time.perf_counter() - t_check
            env = describe(spark, work)
            layers = {}
            if args.trace:
                layers = {**dict.fromkeys(PER_LAYER, 0.0), **wl.layers(spark)}
                roots = [s for s in tracer.spans if s.parent is None]
                layers["harness.tracing_overhead"] = tracer.overhead_s / measured_s
                layers["harness.span_coverage"] = union_length(
                    (s.start, s.end) for s in roots) / measured_s
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": setup_s, **wl.end_to_end()}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env,
        "setup_phases": setup_phases, "measured_s": measured_s, "check_s": check_s,
        "cpu_steal_ratio": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "failed_ops_ratio": failed / attempted,
        "named": wl.detail(),
    }
    print(json.dumps({"perfbench_report": report}))
    chosen = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
