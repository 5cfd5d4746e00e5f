"""Drain streaming progress + observed metrics into a queryable table.

The reference ships a Prometheus exporter process that polls pipeline
state and exposes gauges for scraping (``prometheus_exporter/main.py:
88-106``).  The Spark-first equivalent: a ``StreamingQueryListener``
turns every micro-batch's ``StreamingQueryProgress`` — input rows,
trigger durations, and the free ``observe()`` delivery counters that
ride the source scan (``cdc/stream.py``) — into rows of a small
LakeTable.  Operational dashboards are then ordinary queries over that
table (``ingest_rate_windows`` reuses ``tumbling_tps``,
``batch_duration_percentiles`` reuses ``latency_percentiles``) instead
of a bespoke exporter protocol; a real deployment points a SQL/parquet
Prometheus exporter or Trino at the table root.

Delivery semantics: listener events are driver-side and asynchronous
(Spark dispatches them on the listener bus AFTER the batch commits), so
rows can land moments after ``awaitTermination`` returns — callers that
need a barrier call ``MetricsRecorder.wait_for(n)``.  Each progress row
is idempotent on a ``(run, batch)`` commit key, a metrics write never
raises into the listener bus (errors are kept on ``recorder.errors``),
and a ``CommitConflictError`` from another recorder sharing the table is
retried — metrics are observability, they must not fight the pipeline.
"""

from __future__ import annotations

import json
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from ton_etl_spark.cdc.schema import DELIVERY_OBSERVATION
from ton_etl_spark.lake.table import CommitConflictError, LakeTable, arrow_rows

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("batch_ts", T.StringType(), True),  # ISO-8601 progress timestamp
        T.StructField("num_input_rows", T.LongType(), True),
        T.StructField("trigger_ms", T.LongType(), True),  # durationMs.triggerExecution
        T.StructField("add_batch_ms", T.LongType(), True),  # durationMs.addBatch
        # the DELIVERY_OBSERVATION counters from cdc/stream.py (NULL when
        # this query observes none).  `events`
        # counts rows THROUGH the observation point, summed over every
        # execution of the batch plan; it is exact because the stream's one
        # runner (cdc/stream.py `_run`) persists each micro-batch, so the
        # plan executes once however often the sink step consumes it.
        T.StructField("events", T.LongType(), True),
        T.StructField("min_lsn", T.LongType(), True),
        T.StructField("max_lsn", T.LongType(), True),
    ]
)


def make_metrics_table(spark: SparkSession, root: str) -> LakeTable:
    # batch_ts bounds in the manifests: the ISO-8601 strings order
    # lexicographically == chronologically, so the wall-clock retention
    # sweep prunes to the files actually holding expired rows
    return LakeTable.get_or_create(
        spark, root, schema=METRICS_SCHEMA, key_cols=["run_id", "batch_id"],
        n_buckets=2, stats_cols=["batch_ts"],
    )


class MetricsRecorder(StreamingQueryListener):
    """Append one row per micro-batch progress event to a LakeTable.

    Attach with ``attach_metrics_recorder`` (or
    ``spark.streams.addListener``); one recorder serves every query on the
    session, so multiple streams share one metrics table with their rows
    distinguished by ``query_id``/``run_id``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        retain_seconds: float | None = None,
        retention_every: int = 32,
        keep_last_snapshots: int = 2,
        retention_grace_seconds: float = 600.0,
    ):
        """``retain_seconds``: bound the append-only metrics table inside
        an unbounded stream — every ``retention_every`` recorded rows, rows
        whose ``batch_ts`` (the trigger-start wall clock) is older than the
        horizon are swept and snapshots beyond ``keep_last_snapshots``
        expire (``lake.maintenance.retention_sweep``).  Tags pin snapshots
        retention must keep.  ``None`` (default) keeps everything —
        unchanged behavior for short-lived jobs."""
        self.spark = spark
        self.table = make_metrics_table(spark, root)
        self.errors: list[Exception] = []
        self.rows_written = 0
        self.retain_seconds = retain_seconds
        self.retention_every = max(1, retention_every)
        self.keep_last_snapshots = keep_last_snapshots
        self.retention_grace_seconds = retention_grace_seconds
        self._last_sweep_rows = 0
        self._lock = threading.Lock()

    # -------------------------------------------------------- listener API
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API names)
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        # a metrics failure must never propagate into the listener bus (it
        # would be swallowed there anyway, with a scarier stack trace)
        try:
            self._record(json.loads(event.progress.json))
        except Exception as e:  # pragma: no cover - defensive
            self.errors.append(e)

    # -------------------------------------------------------- internals
    def _record(self, p: dict) -> None:
        obs = (p.get("observedMetrics") or {}).get(DELIVERY_OBSERVATION) or {}
        dur = p.get("durationMs") or {}

        def _long(v):
            return None if v is None else int(v)

        row = (
            str(p["id"]),
            str(p["runId"]),
            int(p["batchId"]),
            p.get("timestamp"),
            _long(p.get("numInputRows")),  # absent → NULL so readers can coalesce
            _long(dur.get("triggerExecution")),
            _long(dur.get("addBatch")),
            _long(obs.get("events")),
            _long(obs.get("min_lsn")),
            _long(obs.get("max_lsn")),
        )
        key = f"qp-{row[1][:8]}={row[2]}"  # (run, batch): replays dedupe
        # one Arrow row: append() commits it through the driver writer,
        # with no Spark job and no Python worker
        rows = arrow_rows(METRICS_SCHEMA, [[v] for v in row])
        # the lock serializes this process's recorders; cross-process CAS
        # losses are absorbed inside append() itself as metadata-only
        # rebases (lake/table.py MAX_REBASES) — no outer retry, which
        # would rewrite the row's file per attempt
        with self._lock:
            try:
                if self.table.append(rows, commit_key=key):
                    self.rows_written += 1
            except CommitConflictError:
                self.errors.append(RuntimeError(f"metrics commit starved for {key}"))
            if (
                self.retain_seconds is not None
                and self.rows_written > 0
                and self.rows_written % self.retention_every == 0
                # deduped replays leave rows_written stationary; never
                # re-sweep (and re-commit a compaction) for the same count
                and self.rows_written != self._last_sweep_rows
            ):
                self._last_sweep_rows = self.rows_written
                try:
                    self._sweep()
                except CommitConflictError:
                    pass  # a concurrent writer won the CAS; next cycle retries

    def _sweep(self) -> None:
        """Wall-clock retention over batch_ts (same ISO shape the progress
        events carry, so the string compare is chronological).  Runs under
        the recorder lock — it serializes with this process's appends the
        same way the appends serialize with each other."""
        import datetime as _dt

        from ton_etl_spark.lake.maintenance import retention_sweep

        cutoff = (
            _dt.datetime.now(_dt.timezone.utc)
            - _dt.timedelta(seconds=self.retain_seconds)
        ).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
        retention_sweep(
            self.table,
            {"batch_ts": (None, cutoff)},
            keep_last=self.keep_last_snapshots,
            grace_seconds=self.retention_grace_seconds,
            compact=True,  # per-append files pile up even when nothing expires
        )

    # -------------------------------------------------------- barrier
    def wait_for(self, n_rows: int, timeout: float = 60.0) -> bool:
        """Block until this recorder has written ``n_rows`` rows (listener
        delivery is asynchronous; awaitTermination does not wait for it).
        Errors never gate a satisfied wait, and never short-circuit an
        unsatisfied one either: one recorder serves every query on the
        session, so an old error from stream A must not make a wait for
        stream B's rows give up while they can still arrive."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.rows_written >= n_rows:
                return True
            time.sleep(0.2)
        return self.rows_written >= n_rows

    def drain(self, idle: float = 2.0, timeout: float = 30.0) -> int:
        """Wait until the listener bus has gone quiet: no new metrics row for
        ``idle`` seconds (or ``timeout`` elapses).  Unlike ``wait_for`` this
        needs no expected row count — after ``awaitTermination`` returns,
        later batches' progress events may still sit in Spark's async
        listener queue; quiescence is the only observable completion signal.
        An append in flight (the recorder lock is held) defers the idle
        verdict: a metrics write (or a retention sweep, which runs Spark
        jobs) can outlast the idle window on a loaded driver.  Returns the number of
        rows written."""
        deadline = time.time() + timeout
        last = self.rows_written
        settled = time.time()
        while time.time() < deadline:
            cur = self.rows_written
            if cur != last or self._lock.locked():
                last, settled = cur, time.time()
            elif time.time() - settled >= idle:
                break
            time.sleep(0.1)
        return self.rows_written


def attach_metrics_recorder(spark: SparkSession, root: str) -> MetricsRecorder:
    rec = MetricsRecorder(spark, root)
    spark.streams.addListener(rec)
    return rec


def detach_metrics_recorder(spark: SparkSession, rec: MetricsRecorder) -> None:
    spark.streams.removeListener(rec)


# ------------------------------------------------------------- dashboards
def ingest_rate_windows(metrics: DataFrame, window_sec: int = 60) -> DataFrame:
    """Delivered events/sec per wall-clock window — the exporter's
    messages-per-second gauge, as a query over the metrics table.  Uses
    ``num_input_rows`` (offset-derived, exact) — the observed ``events``
    counter accumulates across batch re-executions (see METRICS_SCHEMA)."""
    from ton_etl_spark.streaming.metrics import tumbling_tps

    df = metrics.withColumn(
        "__sec", F.unix_timestamp(F.try_to_timestamp(F.col("batch_ts"))).cast("long")
    ).withColumn("__events", F.coalesce(F.col("num_input_rows"), F.col("events")))
    return tumbling_tps(
        df.where(F.col("__sec").isNotNull()),
        ts_col="__sec",
        count_col="__events",
        window_sec=window_sec,
    ).withColumnsRenamed({"tx_total": "events_total", "tps": "events_per_sec"})


def batch_duration_percentiles(metrics: DataFrame, window_sec: int = 3600) -> DataFrame:
    """avg/p50/p75/p95 micro-batch duration (seconds) per wall-clock window
    — the exporter's pipeline-latency gauges, reusing the same percentile
    query the chain metrics use."""
    from ton_etl_spark.streaming.metrics import latency_percentiles

    # StreamingQueryProgress.timestamp is the TRIGGER START; the batch ends
    # triggerExecution ms later, so the window a batch lands in is keyed off
    # start + duration, not the raw timestamp.
    start = F.unix_timestamp(F.try_to_timestamp(F.col("batch_ts"))).cast("double")
    df = (
        metrics.withColumn("__start", start)
        .withColumn(
            "__end", F.col("__start") + F.col("trigger_ms").cast("double") / F.lit(1000.0)
        )
        .where(F.col("__start").isNotNull() & F.col("trigger_ms").isNotNull())
    )
    return latency_percentiles(
        df, start_col="__start", end_col="__end", group_window_sec=window_sec
    )
