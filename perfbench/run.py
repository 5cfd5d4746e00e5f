#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process drives ``local[nproc]`` with
one closed-loop client.  Set-up (session start, warm-up, seeded input
generation, preload) is timed as ``setup_s``; the window then runs the
workload for ``--seconds`` (and at least the workload's minimum sample);
correctness gates run untimed afterwards.  The last line of standard
output is one JSON object: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.

A traced run measures the same phase with spans installed and Spark's event
log on.  Spans, the phase record and the event log are kept under
``.perfbench_out/trace-<workload>-s<seed>/`` for ``perfbench/report.py``;
each untraced run leaves its result in ``.perfbench_out/results/``, and the
traced run of the same seed reports its tracing overhead against it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")

# name, unit, better — bounds live in BENCHMARK.json
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("events_per_s", "1/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("read_p50_ms", "ms", "lower"),
]
MIN_FREE_GB = {"full": 4.0, "tiny": 1.0}
WORKLOAD_NAMES = ["stream_tail", "curation_queries"]


class Ctx:
    def __init__(self, args, work: str, cores: int):
        from harness import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.size = args.size
        self.work = work
        self.cores = cores
        self.tracer = Tracer()
        self.spark = None
        self.setup: dict[str, float] = {}
        self.gates: list[tuple[str, bool, str]] = []

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", flush=True)

    def gate(self, name: str, ok: bool, detail: str) -> None:
        self.gates.append((name, ok, detail))
        self.log(f"gate {'PASS' if ok else 'FAIL'}: {name}" + ("" if ok else f" ({detail})"))

    @contextlib.contextmanager
    def timed(self, key: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup[key] = self.setup.get(key, 0.0) + time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, close the gateway JVM and wait until it and every
    process it started (the PySpark daemon and workers) have exited."""
    from pyspark import SparkContext

    from harness import process_tree

    kids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    for p in kids:
        with contextlib.suppress(OSError):
            os.kill(p, signal.SIGKILL)


def open_ctx(args, work: str) -> Ctx:
    os.makedirs(work)
    free = shutil.disk_usage(work).free / 1e9
    if free < MIN_FREE_GB[args.size]:
        raise SystemExit(f"perfbench: only {free:.1f} GB free under {work}")
    return Ctx(args, work, os.cpu_count() or 1)


@contextlib.contextmanager
def traced(ctx: Ctx):
    """Spans on every layer's entry points, inside one ``window`` span."""
    import layers

    layers.install(ctx.tracer)
    ctx.tracer.enabled = True
    window = ctx.tracer.open("window")
    try:
        yield
    finally:
        ctx.tracer.close(window)
        ctx.tracer.enabled = False
        ctx.tracer.unwrap_all()


def execute(ctx: Ctx, seconds: float, trace: bool, t0: float) -> dict:
    """Set-up, the measured phase and the correctness gates of one
    workload on ``ctx.spark``; ``t0`` is when set-up (session start)
    began."""
    from harness import peak_rss_mb
    from workloads import WORKLOADS

    wl = WORKLOADS[ctx.workload](ctx)
    with ctx.timed("prepare_s"):
        wl.prepare()
    with ctx.timed("warm_s"):
        wl.warm()
    setup_s = time.perf_counter() - t0
    with traced(ctx) if trace else contextlib.nullcontext():
        phase = wl.measure(seconds)
    change_rows = _change_rows(ctx) if trace else []
    with ctx.timed("check_s"):
        wrong = wl.check()
    return {"params": wl.params(), "setup_s": setup_s, "phase": phase,
            "summary": wl.summarize(phase), "wrong": wrong, "rss": peak_rss_mb(),
            "change_rows": change_rows}


def assemble(ctx: Ctx, raw: dict, trace_dir: str | None, event_log: str | None = None) -> dict:
    """The result object of one run (after the session has stopped, so
    the event log is complete)."""
    ph, summary = raw["phase"], raw["summary"]
    failed = sum(not o.ok for o in ph.ops) + raw["wrong"]
    attempted = len(ph.ops)
    details = {
        "setup_s": raw["setup_s"], **ctx.setup, **summary, "window_s": ph.window_s,
        "peak_rss_mb": raw["rss"], "failed_op_frac": failed / max(1, attempted),
        "seed": ctx.seed, "cores": ctx.cores, "size": ctx.size, "params": raw["params"],
        "op_ms": [round(o.ms, 1) for o in ph.ops],
    }
    ctx.log("end-to-end: " + json.dumps(details, sort_keys=True))
    e2e = {"setup_s": raw["setup_s"],
           **{n: summary[n] for n in ("events_per_s", "op_p50_ms", "read_p50_ms")}}
    if trace_dir is None:
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        with open(os.path.join(OUT, "results", f"{ctx.workload}-s{ctx.seed}.json"), "w") as fh:
            json.dump({"metrics": e2e, "details": details}, fh)
        units = {n: u for n, u, _ in END_TO_END}
        out = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    else:
        import report

        with open(os.path.join(trace_dir, "phase.json"), "w") as fh:
            json.dump({
                "workload": ctx.workload, "seed": ctx.seed, "cores": ctx.cores,
                "events": ph.events, "ops": [o.__dict__ for o in ph.ops], "info": ph.info,
                "setup": {"session_s": ctx.setup["session_s"],
                          "generator_s": ctx.setup.get("generator_s", 0.0)},
                "change_rows": raw["change_rows"], "traced": e2e,
            }, fh)
        ctx.tracer.dump(os.path.join(trace_dir, "spans.json"))
        metrics = report.render(trace_dir, print_fn=ctx.log, event_log=event_log)
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    correct = failed == 0 and all(ok for _, ok, _ in ctx.gates)
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}


def run(args) -> dict:
    from harness import start_session

    tag = f"{args.workload}-s{args.seed}"
    trace_dir = os.path.join(OUT, f"trace-{tag}") if args.trace else None
    if trace_dir:
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
    ctx = open_ctx(args, os.path.join(OUT, f"work-{tag}-t{args.trace}-{os.getpid()}"))
    try:
        t0 = time.perf_counter()
        with ctx.timed("session_s"):
            ctx.spark = start_session(
                ctx.work, ctx.cores, os.path.join(trace_dir, "eventlog") if trace_dir else None
            )
        raw = execute(ctx, args.seconds, bool(args.trace), t0)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(ctx.work, ignore_errors=True)
    return assemble(ctx, raw, trace_dir)


def _change_rows(ctx) -> list[int]:
    """Live change rows of each mart refresh the traced window made,
    counted after the window so the count adds no time to it."""
    from pyspark.sql import functions as F

    from ton_etl_spark.lake.table import LakeTable

    refreshes = [s for s in ctx.tracer.spans if s.name == "incremental.refresh" and "to" in s.attrs]
    if not refreshes:
        return []
    sink = LakeTable.load(ctx.spark, os.path.join(ctx.work, ctx.workload, "sink"))
    return [
        sink.changes(s.attrs["from"], s.attrs["to"]).where(F.col("op") != "d").count()
        for s in refreshes
    ]


def setup_env() -> None:
    sys.path[:0] = [ROOT, HERE]
    # Spark's Python workers unpickle the engine's UDFs by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_PY_PREWARM"] = "0"
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ton_etl_spark", "__init__.py")):
        print(f"perfbench: no ton_etl_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    setup_env()
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
