#!/usr/bin/env python3
"""Smoke check of the benchmark itself: every workload at the tiny size,
traced, in one Spark session.  It checks that every metric
``BENCHMARK.json`` names is reported, that no operation failed or gave a
wrong answer, and that each per-layer metric of a layer the workload runs
is non-zero (a missed wrap or a renamed Spark counter would read 0).

    python3 perfbench/smoke.py

Run it as a script, from the root of a checkout; it removes the files it
wrote under ``.perfbench_out/`` when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import run as R  # noqa: E402

SPARK = ["spark.jobs", "spark.tasks", "spark.executor_run_ms", "spark.executor_cpu_ms",
         "spark.cpu_busy_frac", "spark.jobs_per_op", "session.start_s", "generator.log_s"]
# per-layer metrics that must be non-zero on each workload; merge.spill_bytes
# and spark.gc_ms may be 0 at this size, and the other layers do not run there
NONZERO = {
    "stream_tail": SPARK + [
        "apply.spark_jobs_per_epoch", "tokens.py_bytes_sent", "tokens.py_bytes_returned",
        "merge.shuffle_write_bytes", "merge.shuffle_records", "merge.rows_rewritten_per_event",
        "table.files_written_per_commit", "table.spark_jobs_per_lookup",
        "table.files_scanned_per_lookup", "incremental.change_rows",
        "maintenance.rows_rewritten", "self_frac.apply", "self_frac.merge",
        "self_frac.table_read", "self_frac.table_write", "self_frac.incremental",
        "self_frac.maintenance", "self_frac.stream", "self_frac.lookup",
    ],
    "curation_queries": SPARK + ["self_frac.query"],
}


def main() -> None:
    R.setup_env()
    from harness import start_session

    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == R.WORKLOAD_NAMES
    e2e_names = {m["name"] for m in bench["end_to_end"]}
    layer_names = {m["name"] for m in bench["per_layer"]}

    base = os.path.join(R.OUT, f"smoke-{os.getpid()}")
    R.OUT = base  # results and traces of this check stay under base
    event_log = os.path.join(base, "eventlog")
    os.makedirs(base)
    runs = []
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(base, os.cpu_count() or 1, event_log)
        session_s = time.perf_counter() - t0
        for name in R.WORKLOAD_NAMES:
            args = argparse.Namespace(workload=name, seed=11, size="tiny", trace=1)
            ctx = R.open_ctx(args, os.path.join(base, name))
            ctx.spark = spark
            ctx.setup["session_s"] = session_s
            runs.append((ctx, R.execute(ctx, 0.5, True, time.perf_counter())))
    finally:
        if spark is not None:
            R.stop_spark(spark)
    try:
        for ctx, raw in runs:
            # the untraced result shape first: the traced report then finds it
            # as its tracing-overhead reference
            untraced = R.assemble(ctx, raw, None)
            trace_dir = os.path.join(base, f"trace-{ctx.workload}")
            os.makedirs(trace_dir)
            traced = R.assemble(ctx, raw, trace_dir, event_log=event_log)
            for result in (untraced, traced):
                assert result["correct"], ctx.workload
                assert result["failed"] == 0 and result["attempted"] > 0, ctx.workload
            assert set(untraced["metrics"]) == e2e_names, ctx.workload
            assert all(m["value"] > 0 for m in untraced["metrics"].values()), untraced
            assert set(traced["metrics"]) == layer_names, ctx.workload
            zero = [k for k in NONZERO[ctx.workload] if not traced["metrics"][k]["value"] > 0]
            assert not zero, f"{ctx.workload}: zero per-layer metrics {zero}"
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    t = time.perf_counter()
    main()
    print(f"smoke check passed in {time.perf_counter() - t:.1f} s")
