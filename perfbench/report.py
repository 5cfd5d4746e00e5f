#!/usr/bin/env python3
"""Turn a traced run's artifacts into the named per-layer metrics, the
span self-time table and the tracing-overhead line.

    python3 perfbench/report.py .perfbench_out/trace-<workload>-s<seed>

The directory holds ``spans.json`` (the tracer's spans), ``phase.json``
(operation records, streaming progress, set-up times and the traced
end-to-end numbers) and ``eventlog/`` (Spark's JSON event log).  The
tracing overhead compares the traced numbers with the untraced run of the
same workload and seed, ``results/<workload>-s<seed>.json`` beside the
directory, when there is one.  ``run.py --trace 1`` calls ``render`` on
the directory it wrote.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from harness import Span, read_event_log  # noqa: E402
from layers import DECLARED, LAYER_MAP, layer_metrics  # noqa: E402


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def overhead_line(trace_dir: str, phase: dict) -> str:
    ref = os.path.join(os.path.dirname(trace_dir), "results",
                       f"{phase['workload']}-s{phase['seed']}.json")
    if not os.path.exists(ref):
        return f"no untraced run of this workload and seed ({ref})"
    with open(ref) as fh:
        before = json.load(fh)["metrics"]
    after = phase["traced"]
    return "; ".join(
        f"{k} {before[k]:.4g} -> {after[k]:.4g} ({after[k] / before[k] - 1.0:+.1%})"
        for k in sorted(before) if before[k]
    )


def render(trace_dir: str, print_fn=print, event_log: str | None = None) -> dict:
    """Print the per-layer report and return {declared metric: (value,
    unit)} — a layer the workload did not run reports 0.  ``event_log``
    overrides ``<trace_dir>/eventlog`` (several runs sharing one session)."""
    with open(os.path.join(trace_dir, "spans.json")) as fh:
        spans = [Span(**d) for d in json.load(fh)]
    with open(os.path.join(trace_dir, "phase.json")) as fh:
        phase = json.load(fh)
    jobs = read_event_log(event_log or os.path.join(trace_dir, "eventlog"))
    window = next(s for s in spans if s.name == "window")
    m, table = layer_metrics(
        spans, jobs, window, phase, phase["cores"], phase["setup"], phase["change_rows"]
    )

    print_fn(f"per-layer metrics ({phase['workload']}, traced window, {window.ms / 1000:.2f} s):")
    for k in sorted(m):
        target = LAYER_MAP.get(k) or LAYER_MAP.get("query.<name>_s" if k.startswith("query.") else "")
        note = f"  -> {target[0]} on {target[1]}" if target else ""
        print_fn(f"  {k:34s} {_fmt(m[k]):>12s}{note}")
    print_fn("span self times (calls, total ms, self ms):")
    for name, (calls, total, own) in sorted(table.items(), key=lambda kv: -kv[1][2]):
        print_fn(f"  {name:28s} {calls:6d} {total:12.1f} {own:12.1f}")
    print_fn("tracing overhead, untraced -> traced run: " + overhead_line(trace_dir, phase))
    return {name: (float(m.get(name) or 0.0), unit) for name, unit, _ in DECLARED}


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    render(os.path.abspath(sys.argv[1].rstrip("/")))
