"""Prometheus exposition surface — the reference's ``prometheus_exporter``.

The reference runs a standalone Kafka consumer that keeps a rolling
event-time window per gauge in a Python dict, recomputes metrics every
``update_interval`` seconds, and publishes them as Prometheus gauges over
HTTP (``prometheus_exporter/main.py:16-110``, ``gauges/performance/
performance.py:43-157``).  Semantics preserved here:

- eviction threshold = max observed event time minus ``interval *
  interval_factor`` (``performance.py:119-125`` ``_cleanup``);
- TPS = sum(tx_count) / interval over the surviving window
  (``tps.py:47-56``);
- delay metrics = average, p50, p75, p95, tx_count where a percentile is
  the element at index ``int((n-1) * fraction)`` of the sorted delays
  (``performance.py:131-157``), published under label name ``col``;
- exposition = Prometheus text format 0.0.4 over HTTP ``/metrics``.

Spark-first: the reference recomputes each gauge by sorting the whole
window in driver Python — fine for its single-node exporter, quadratic
pain at scale.  Here the window filter + aggregation run as DataFrame
ops and only the final gauge rows (one per label, bounded by label
cardinality, never by data volume) are collected.  The exact index
percentile is a rank join (row_number + per-group count), NOT
``collect_list`` — per-group state on an executor stays O(1).

No prometheus_client dependency: the text format is a public spec and
the server is stdlib ``http.server`` (the sandbox cannot pip install).
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "GaugeRegistry",
    "index_percentiles",
    "rolling_delay_gauges",
    "rolling_tps_gauge",
    "update_performance_gauges",
    "update_delivery_gauges",
    "update_table_layout_gauges",
    "start_metrics_server",
]


def update_table_layout_gauges(
    reg: "GaugeRegistry", table, prefix: str = "ton_etl_table",
    label: str | None = None,
) -> None:
    """Layout-health gauges from manifest metadata alone — NO Spark job:
    file/row/version counts, the bin-pack demand signal (small files
    below the shared ``default_small_rows`` threshold) and the z-order
    demand signal (per-column clustering overlap).  The same numbers
    ``describe`` prints, continuously exposed so maintenance scheduling
    can be alert-driven instead of operator-polled; on a 100 TB table
    each refresh is O(files log files) driver math over the
    already-loaded manifests — the overlap count uses a sorted-endpoint
    identity (``clustering_overlap``), so the refresh does NOT go
    quadratic on a badly clustered table, which is exactly when the
    gauge is consulted.

    ``label`` overrides the ``table`` label (default: the root's
    basename) — pass distinct labels when two monitored roots share a
    leaf directory name, or their series silently collide.  This table's
    stale series are retired each refresh (label-scoped, so other tables
    on the shared registry are untouched): a maintenance rewrite that
    collapses a bucket to one file makes a column's overlap unscoreable,
    and the alert the metric drives must fall silent with it."""
    import os as _os

    from ton_etl_spark.lake.maintenance import clustering_overlap, layout_summary

    snap = table.current()
    layout = layout_summary(table, snap)
    labels = {"table": label or _os.path.basename(table.root.rstrip("/"))}
    reg.clear_matching(f"{prefix}_small_files", labels)
    reg.clear_matching(f"{prefix}_clustering_overlap", labels)
    reg.describe(f"{prefix}_files", "data files in the current snapshot")
    reg.set(f"{prefix}_files", labels, float(layout["n_files"]))
    reg.describe(f"{prefix}_rows", "stored rows in the current snapshot")
    reg.set(f"{prefix}_rows", labels, float(layout["rows_total"]))
    reg.describe(f"{prefix}_version", "current snapshot version")
    reg.set(f"{prefix}_version", labels, float(snap.version))
    if layout["small_files"] is not None:
        reg.describe(
            f"{prefix}_small_files",
            "bin-pack demand: files below half target_file_rows",
        )
        reg.set(f"{prefix}_small_files", labels, float(layout["small_files"]))
    reg.describe(
        f"{prefix}_clustering_overlap",
        "z-order demand: same-bucket bounds-overlap fraction per column",
    )
    for c, v in clustering_overlap(table, files=snap.files).items():
        if v is not None:
            reg.set(f"{prefix}_clustering_overlap", {**labels, "col": c}, v)


def _escape_label(v: str) -> str:
    # text-format 0.0.4: backslash, double-quote and newline are escaped
    return str(v).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


def _escape_help(v: str) -> str:
    return str(v).replace("\\", "\\\\").replace("\n", "\\n")


def _format_value(v: float) -> str:
    f = float(v)
    if f != f:
        return "NaN"
    if f in (float("inf"), float("-inf")):
        return "+Inf" if f > 0 else "-Inf"
    if f == int(f) and abs(f) < 2**53:
        return str(int(f))
    return repr(f)


class GaugeRegistry:
    """Thread-safe gauge store rendering Prometheus text format 0.0.4.

    The writer is whatever thread drives ``update_*`` (a foreachBatch
    callback, a CLI loop); the reader is the HTTP handler thread — hence
    the lock.  Values are plain floats; label sets are tuples of
    (label_name, label_value) pairs.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        # name -> (help, {labels_tuple: value})
        self._gauges: dict[str, tuple[str, dict[tuple, float]]] = {}

    def describe(self, name: str, documentation: str) -> None:
        with self._lock:
            _, values = self._gauges.get(name, (None, {}))
            self._gauges[name] = (documentation, values)

    def set(self, name: str, labels: dict[str, str] | None, value: float) -> None:
        key = tuple(sorted((labels or {}).items()))
        with self._lock:
            doc, values = self._gauges.get(name, ("", {}))
            values[key] = float(value)
            self._gauges[name] = (doc, values)

    def get(self, name: str, labels: dict[str, str] | None = None) -> float | None:
        key = tuple(sorted((labels or {}).items()))
        with self._lock:
            _, values = self._gauges.get(name, ("", {}))
            return values.get(key)

    def clear(self, name: str) -> None:
        """Drop every label series of a gauge (stale labels otherwise
        persist across refreshes, exactly like prometheus_client)."""
        with self._lock:
            doc, _ = self._gauges.get(name, ("", {}))
            self._gauges[name] = (doc, {})

    def clear_matching(self, name: str, match: dict[str, str]) -> None:
        """Drop only the series whose labels include every ``match`` pair —
        how a multi-entity updater (one table of several on a shared
        registry) retires ITS stale series without wiping the others'."""
        want = set(match.items())
        with self._lock:
            doc, values = self._gauges.get(name, ("", {}))
            self._gauges[name] = (
                doc, {k: v for k, v in values.items() if not want <= set(k)}
            )

    def render(self) -> str:
        out: list[str] = []
        with self._lock:
            for name in sorted(self._gauges):
                doc, values = self._gauges[name]
                if doc:
                    out.append(f"# HELP {name} {_escape_help(doc)}")
                out.append(f"# TYPE {name} gauge")
                for key in sorted(values):
                    if key:
                        lbl = ",".join(f'{k}="{_escape_label(v)}"' for k, v in key)
                        out.append(f"{name}{{{lbl}}} {_format_value(values[key])}")
                    else:
                        out.append(f"{name} {_format_value(values[key])}")
        return "\n".join(out) + "\n"


def index_percentiles(
    df: DataFrame,
    value_col: str,
    fractions: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact sorted-list index percentile: element at ``int((n-1)*f)``.

    This is the reference's ``_percentile`` (``performance.py:152-157``)
    as a distributed plan: rank rows per group with ``row_number`` (one
    exchange), join per-group counts to the target ranks, and keep the
    matching rows.  No ``collect_list`` — a group is an external-sortable
    window partition that spills to disk, never a single in-memory array
    (the same memory profile as Spark's own exact ``percentile``, minus
    the array build).  A group still sorts on one task — inherent to an
    exact index percentile; for unbounded groups use
    ``percentile_approx`` instead.

    Returns one row per group with a ``p_<fraction>`` column per fraction
    (dots stripped, e.g. ``p_0_95``), NULL for empty groups (which do not
    appear — consistent with the reference returning None).
    """
    gcols = [F.col(c) for c in group_cols]
    # ungrouped = one ranking task by definition; the literal partition key
    # keeps WindowExec from warning about it on every gauge refresh
    part = gcols if group_cols else [F.lit(0)]
    w = Window.partitionBy(*part).orderBy(F.col(value_col))
    ranked = df.withColumn("__rk", F.row_number().over(w))
    counts = df.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__n"))

    frac_names = [(f, "p_" + str(f).replace(".", "_")) for f in fractions]
    targets = counts.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("pname"),
                        (F.floor((F.col("__n") - F.lit(1)) * F.lit(float(f))) + F.lit(1))
                        .cast("int")
                        .alias("rk"),
                    )
                    for f, name in frac_names
                ]
            )
        ).alias("t"),
    ).select(*group_cols, F.col("t.pname").alias("__pname"), F.col("t.rk").alias("__rk"))

    on = [*group_cols, "__rk"]
    hit = targets.join(ranked.select(*group_cols, "__rk", value_col), on, "inner")
    agg = [
        F.max(F.when(F.col("__pname") == name, F.col(value_col))).alias(name)
        for _, name in frac_names
    ]
    if group_cols:
        return hit.groupBy(*gcols).agg(*agg)
    return hit.groupBy().agg(*agg)


def _rolling(df: DataFrame, ts_col: str, horizon_sec: float, now_ts: float | None) -> DataFrame:
    """Apply the reference's eviction: keep rows with ts >= anchor - horizon.

    Anchor = ``now_ts`` when given, else the max observed event time (the
    reference anchors on the latest masterchain block it saw —
    ``performance.py:67-70`` — i.e. on event time, not wall-clock).

    The max-anchor rides in as a broadcast 1-row cross join, NOT a global
    window (``Window.partitionBy()`` would funnel every row through one
    partition)."""
    if now_ts is not None:
        return df.where(F.col(ts_col) >= F.lit(float(now_ts)) - F.lit(float(horizon_sec)))
    anchor = df.agg(F.max(F.col(ts_col)).cast("double").alias("__anchor"))
    return df.crossJoin(F.broadcast(anchor)).where(
        F.col(ts_col) >= F.col("__anchor") - F.lit(float(horizon_sec))
    )


def rolling_tps_gauge(
    blocks: DataFrame,
    ts_col: str = "gen_utime",
    count_col: str = "tx_count",
    interval_sec: int = 100,
    now_ts: float | None = None,
) -> float | None:
    """TPS over the rolling window: sum(tx_count)/interval (``tps.py:47-56``).

    One filter + one global sum; a single scalar crosses to the driver.
    Returns None on an empty window (reference skips the update)."""
    row = (
        _rolling(blocks, ts_col, interval_sec, now_ts)
        .agg(F.sum(count_col).alias("s"))
        .collect()[0]
    )
    if row["s"] is None:
        return None
    return float(row["s"]) / float(interval_sec)


def rolling_delay_gauges(
    events: DataFrame,
    delay_col: str,
    ts_col: str,
    class_col: str | None = None,
    interval_sec: int = 600,
    interval_factor: int = 1,
    now_ts: float | None = None,
) -> list[dict]:
    """average/p50/p75/p95/tx_count per class over the rolling window.

    Mirrors ``_metrics_from_delay`` (``performance.py:131-143``): average
    is ``round(sum/len)`` (banker's rounding like the reference's Python
    ``round``), the percentiles are exact index percentiles.  Returns a
    list of {class, col, value} dicts — bounded by class cardinality × 5.
    """
    win = _rolling(events, ts_col, interval_sec * interval_factor, now_ts)
    gcols = [class_col] if class_col else []
    pcts = index_percentiles(win, delay_col, [0.5, 0.75, 0.95], gcols)
    base = win.groupBy(*[F.col(c) for c in gcols]).agg(
        F.count(F.lit(1)).alias("tx_count"), F.avg(delay_col).alias("avg")
    )
    joined = base.join(pcts, gcols, "inner") if gcols else base.crossJoin(pcts)
    out: list[dict] = []
    for r in joined.collect():
        if r["avg"] is None:
            # ungrouped agg over an empty/fully-evicted window yields one
            # all-NULL row; the reference skips the update (tps.py:48-50)
            continue
        cls = r[class_col] if class_col else None
        # Python-3 round = banker's rounding, same as the reference
        out.append({"class": cls, "col": "average", "value": float(round(r["avg"]))})
        out.append({"class": cls, "col": "p50", "value": float(r["p_0_5"])})
        out.append({"class": cls, "col": "p75", "value": float(r["p_0_75"])})
        out.append({"class": cls, "col": "p95", "value": float(r["p_0_95"])})
        out.append({"class": cls, "col": "tx_count", "value": float(r["tx_count"])})
    return out


def update_performance_gauges(
    registry: GaugeRegistry,
    events: DataFrame,
    name: str,
    documentation: str = "",
    delay_col: str = "delay",
    ts_col: str = "ts",
    class_col: str | None = None,
    interval_sec: int = 600,
    interval_factor: int = 1,
    now_ts: float | None = None,
) -> int:
    """Refresh one delay gauge family from a DataFrame; returns series count.

    Label layout matches the reference exporter: the metric name carries
    the event family and the ``col`` label carries the statistic
    (``main.py:42-88``); a per-class dimension (the repo's analog of the
    reference's per-platform gauges) adds a ``class`` label."""
    rows = rolling_delay_gauges(
        events, delay_col, ts_col, class_col, interval_sec, interval_factor, now_ts
    )
    registry.describe(name, documentation)
    registry.clear(name)
    for r in rows:
        labels = {"col": r["col"]}
        if r["class"] is not None:
            labels["class"] = str(r["class"])
        registry.set(name, labels, r["value"])
    return len(rows)


def update_delivery_gauges(
    registry: GaugeRegistry,
    metrics: DataFrame,
    name_prefix: str = "ton_etl_ingest",
    window_sec: int = 300,
    now_ts: float | None = None,
) -> None:
    """Operator-facing ingest gauges from the observability metrics table
    (``streaming/observability.py``): rows/sec and batch-duration p50/p95
    over the trailing window, plus lifetime delivered rows.  The window
    anchors on the latest recorded trigger start (``batch_ts`` is the
    progress timestamp = trigger START, see observability.py)."""
    df = metrics.withColumn(
        "__ts", F.unix_timestamp(F.try_to_timestamp(F.col("batch_ts"))).cast("double")
    ).where(F.col("__ts").isNotNull())
    win = _rolling(df, "__ts", window_sec, now_ts)
    agg = win.agg(
        F.sum("num_input_rows").alias("rows"),
        F.sum("trigger_ms").alias("ms"),
    ).collect()[0]
    total = metrics.agg(F.sum("num_input_rows").alias("t")).collect()[0]["t"]
    pct = index_percentiles(win, "trigger_ms", [0.5, 0.95]).collect()
    registry.describe(name_prefix + "_rows_per_sec", "delivered rows/sec, trailing window")
    registry.describe(name_prefix + "_batch_ms", "trigger duration ms, trailing window")
    registry.describe(name_prefix + "_rows_total", "delivered rows since stream start")
    if agg["ms"] and agg["rows"] is not None:
        registry.set(name_prefix + "_rows_per_sec", None, agg["rows"] / (agg["ms"] / 1000.0))
    if pct and pct[0]["p_0_5"] is not None:
        registry.set(name_prefix + "_batch_ms", {"col": "p50"}, pct[0]["p_0_5"])
        registry.set(name_prefix + "_batch_ms", {"col": "p95"}, pct[0]["p_0_95"])
    registry.set(name_prefix + "_rows_total", None, float(total or 0))


class _Handler(BaseHTTPRequestHandler):
    registry: GaugeRegistry  # set on the subclass by start_metrics_server

    def do_GET(self):  # noqa: N802 (http.server API name)
        if self.path.split("?", 1)[0] not in ("/metrics", "/"):
            self.send_response(404)
            self.end_headers()
            return
        body = self.registry.render().encode("utf-8")
        self.send_response(200)
        self.send_header("Content-Type", "text/plain; version=0.0.4; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):  # quiet by default
        pass


def start_metrics_server(
    registry: GaugeRegistry, port: int = 0, host: str = "127.0.0.1"
) -> tuple[ThreadingHTTPServer, int]:
    """Serve ``registry`` at ``http://host:port/metrics`` on a daemon
    thread; port 0 picks a free port (returned).  Reference analog:
    ``start_http_server(exporter_port)`` (``main.py:38``)."""
    handler = type("BoundHandler", (_Handler,), {"registry": registry})
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
