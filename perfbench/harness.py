"""Run-level plumbing shared by every workload: the Spark session, the span
tracer, the Spark event-log reader and the /proc memory reader.

Nothing here changes the engine: spans are recorded by replacing a module
or class attribute with a timing wrapper for the duration of the traced
phase, and Spark's own counters come from its event log and streaming
progress.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


# ---------------------------------------------------------------- statistics
def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); the sample itself, so a
    p90 over 100 values leaves exactly 10 values above it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values)


# ---------------------------------------------------------------- memory
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        rest = raw[raw.rfind(")") + 2 :].split()
        kids.setdefault(int(rest[1]), []).append(int(stat.split("/")[2]))
    return kids


def process_tree(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field_name: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field_name + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of the high-water RSS (VmHWM) of this process and every
    descendant: the driver JVM, the PySpark daemon and its Python
    workers."""
    pids = process_tree(root_pid or os.getpid())
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


# ---------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str
    start: float  # time.time() seconds, comparable with Spark's epoch ms
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """In-memory span recorder.  The benchmark drives one closed-loop
    client, so spans nest on one timeline even when a streaming callback
    thread opens them; a lock keeps the shared stack consistent."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = Span(
                id=len(self.spans) + 1,
                name=name,
                start=time.time(),
                parent=parent.id if parent else None,
                attrs=attrs,
            )
            sp.op_id = parent.op_id if parent else sp.id
            self.spans.append(sp)
            self._stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        with self._lock:
            sp.end = time.time()
            if sp in self._stack:
                self._stack.remove(sp)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, owner: object, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a wrapper that opens span ``name``
        around each call.  ``before(args, kwargs) -> state`` and
        ``after(state, result, span)`` collect per-call counters."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before and tracer.enabled else None
            sp = tracer.open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.close(sp)
            if after and sp is not None:
                after(state, result, sp)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([sp.__dict__ for sp in self.spans], fh)


def self_times_ms(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of it covered by its direct
    children (children of one parent may overlap; their union counts)."""
    kids: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(kids.get(sp.id, []), key=lambda c: c.start):
            s, e = max(c.start, sp.start), min(c.end, sp.end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sp.id] = max(0.0, (sp.end - sp.start) - covered) * 1000.0
    return out


# ---------------------------------------------------------------- event log
@dataclass
class SparkJob:
    id: int
    submit_ms: int
    stages: list[int]
    end_ms: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    py_bytes_sent: int = 0
    py_bytes_returned: int = 0


_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[SparkJob]:
    """Per-job task metrics from Spark's JSON event log (``spark.eventLog``).
    Task-level counters come from ``SparkListenerTaskEnd``; the Arrow
    bridge's byte counters are SQL metrics and come from the final
    accumulator values of each completed stage."""
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))
    )
    jobs: dict[int, SparkJob] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = SparkJob(ev["Job ID"], int(ev["Submission Time"]), list(ev["Stage IDs"]))
                    jobs[j.id] = j
                    for s in j.stages:
                        stage_job.setdefault(s, j.id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = int(ev["Completion Time"])
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.run_ms += m.get("Executor Run Time", 0)
                    j.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    j.gc_ms += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics", {})
                    j.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    j.shuffle_records += sw.get("Shuffle Records Written", 0)
                    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    j = jobs.get(stage_job.get(info["Stage ID"], -1))
                    if j is None:
                        continue
                    for acc in info.get("Accumulables", []):
                        name, val = acc.get("Name"), acc.get("Value")
                        if name == _PY_SENT:
                            j.py_bytes_sent += int(val)
                        elif name == _PY_RETURNED:
                            j.py_bytes_returned += int(val)
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute_jobs(jobs: list[SparkJob], spans: list[Span]) -> dict[int, list[SparkJob]]:
    """Map each Spark job to the innermost span open when it was
    submitted (span id -> jobs).  One client thread drives the engine, so
    the open spans at any instant form a single chain."""
    by_span: dict[int, list[SparkJob]] = {}
    ordered = sorted(spans, key=lambda s: s.start)
    for j in jobs:
        t = j.submit_ms / 1000.0
        best = None
        for sp in ordered:
            if sp.start > t:
                break
            if sp.end >= t and (best is None or sp.start >= best.start):
                best = sp
        if best is not None:
            by_span.setdefault(best.id, []).append(j)
    return by_span


def subtree(spans: list[Span], root_ids: set[int]) -> set[int]:
    ids = set(root_ids)
    grew = True
    while grew:
        grew = False
        for sp in spans:
            if sp.parent in ids and sp.id not in ids:
                ids.add(sp.id)
                grew = True
    return ids


# ---------------------------------------------------------------- session
def start_session(work: str, cores: int, event_log_dir: str | None):
    """SparkSession on ``local[cores]`` with every scratch path inside the
    run's work directory.  The engine's generic pre-warm is disabled: each
    workload warms exactly the paths it measures during set-up."""
    from ton_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.executorEnv.TMPDIR": tmp,
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
