"""Per-layer tracing: where spans are recorded, which metrics they turn
into, and which end-to-end metric each one should move.

Spans wrap the engine's public functions at the name their caller
resolves (``cdc.apply`` imports ``merge_lww`` by name, so the wrapper goes
on ``ton_etl_spark.cdc.apply.merge_lww``).  Spark-side counters come from
the event log, attributed to the innermost span open at job submission,
and streaming phases from ``StreamingQueryProgress``.
"""

from __future__ import annotations

from harness import Span, SparkJob, attribute_jobs, median, self_times_ms, subtree

# per-layer metric -> (end-to-end metric it should move, workload, note)
LAYER_MAP = {
    "session.start_s": ("setup_s", "all", "JVM launch and session build"),
    "generator.log_s": ("setup_s", "all", "seeded input generation"),
    "apply.epoch_ms": ("op_p50_ms", "stream_tail", "per-epoch fixed cost"),
    "apply.spark_jobs_per_epoch": ("op_p50_ms", "stream_tail", "fixed per-commit jobs"),
    "tokens.py_bytes_sent": ("events_per_s", "stream_tail", "Arrow bridge bytes per applied event"),
    "tokens.py_bytes_returned": ("events_per_s", "stream_tail", "Arrow bridge bytes per applied event"),
    "merge.ms": ("op_p50_ms", "stream_tail", "LWW aggregation and bucket rewrite"),
    "merge.shuffle_write_bytes": ("events_per_s", "stream_tail", "per merge"),
    "merge.shuffle_records": ("events_per_s", "stream_tail", "per merge"),
    "merge.spill_bytes": ("events_per_s", "stream_tail", "per merge"),
    "merge.rows_rewritten_per_event": ("op_p50_ms", "stream_tail", "copy-on-write amplification"),
    "table.overwrite_ms": ("op_p50_ms", "stream_tail", "file write + manifest commit"),
    "table.files_written_per_commit": ("op_p50_ms", "stream_tail", "sink commits"),
    "table.read_plan_ms": ("read_p50_ms", "stream_tail", "manifest resolution, bucket probe, skipping"),
    "table.spark_jobs_per_lookup": ("read_p50_ms", "stream_tail", "no change predicted elsewhere"),
    "table.files_scanned_per_lookup": ("read_p50_ms", "stream_tail", "DataFrame.inputFiles()"),
    "table.skip_ratio": ("read_p50_ms", "stream_tail", "skipped / snapshot files"),
    "stream.trigger_ms": ("op_p50_ms", "stream_tail", "triggerExecution"),
    "stream.add_batch_ms": ("op_p50_ms", "stream_tail", "foreachBatch body"),
    "stream.source_commit_ms": ("op_p50_ms", "stream_tail", "triggerExecution - addBatch"),
    "incremental.refresh_ms": ("op_p50_ms", "stream_tail", "mart refresh through changes()"),
    "incremental.change_rows": ("op_p50_ms", "stream_tail", "live change rows per refresh"),
    "maintenance.ms": ("events_per_s", "stream_tail", "rolling maintenance epochs only"),
    "maintenance.rows_rewritten": ("events_per_s", "stream_tail", "per maintenance commit"),
    "query.<name>_s": ("op_p50_ms, read_p50_ms", "curation_queries", "one entry per query"),
    "spark.*": ("all", "all", "low cpu_busy_frac: driver/scheduling bound, not task work"),
}

# the per-layer metrics printed on the result line: each is present on
# every workload, and a layer a workload does not run reports a zero count
# or share.  The per-layer times (apply.epoch_ms, merge.ms, query.<name>_s
# ...) are printed in the report only: on a workload that does not run the
# layer they would read a constant zero time.
DECLARED = [
    ("session.start_s", "s", "lower"),
    ("generator.log_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.cpu_busy_frac", "frac", "higher"),
    ("apply.spark_jobs_per_epoch", "count", "lower"),
    ("tokens.py_bytes_sent", "B/event", "lower"),
    ("tokens.py_bytes_returned", "B/event", "lower"),
    ("merge.shuffle_write_bytes", "B", "lower"),
    ("merge.shuffle_records", "count", "lower"),
    ("merge.spill_bytes", "B", "lower"),
    ("merge.rows_rewritten_per_event", "ratio", "lower"),
    ("table.files_written_per_commit", "count", "lower"),
    ("table.spark_jobs_per_lookup", "count", "lower"),
    ("table.files_scanned_per_lookup", "count", "lower"),
    ("table.skip_ratio", "frac", "higher"),
    ("incremental.change_rows", "count", "lower"),
    ("maintenance.rows_rewritten", "count", "lower"),
    ("self_frac.apply", "frac", "lower"),
    ("self_frac.merge", "frac", "lower"),
    ("self_frac.table_read", "frac", "lower"),
    ("self_frac.table_write", "frac", "lower"),
    ("self_frac.incremental", "frac", "lower"),
    ("self_frac.maintenance", "frac", "lower"),
    ("self_frac.stream", "frac", "lower"),
    ("self_frac.lookup", "frac", "lower"),
    ("self_frac.query", "frac", "lower"),
]

# span name -> layer, for self-time shares
LAYER_OF = {
    "apply": "apply", "tokens": "apply", "merge": "merge",
    "table.read": "table_read", "table.overwrite": "table_write", "table.append": "table_write",
    "table.changes": "incremental", "incremental.refresh": "incremental",
    "incremental.rebuild": "incremental", "maintenance": "maintenance",
    "stream.drain": "stream", "lookup": "lookup",
}


def install(tracer, sink_marker: str = "/sink") -> None:
    """Wrap each layer's public entry points.  Commits on a sink table
    record the files and rows they added (manifest diff against the
    pre-commit snapshot)."""
    import ton_etl_spark.cdc.apply as A
    import ton_etl_spark.cdc.stream as S
    import ton_etl_spark.lake.incremental as INC
    import ton_etl_spark.lake.maintenance as M
    from ton_etl_spark.lake.table import LakeTable

    def before_write(args, kwargs):
        table = args[0]
        buckets = kwargs.get("buckets", args[2] if len(args) > 2 else None)
        return table, table.current_version(), buckets

    def after_write(state, result, sp):
        table, v0, buckets = state
        sp.attrs["sink"] = sink_marker in table.root
        if not result or not sp.attrs["sink"]:
            return
        old = {f.path for f in table.snapshot(v0).files_for(buckets)}
        new = [f for f in table.current().files_for(buckets) if f.path not in old]
        sp.attrs["files_written"] = len(new)
        sp.attrs["rows_written"] = sum(f.rows for f in new)

    def before_read(args, kwargs):
        return args[0]

    def after_read(table, result, sp):
        sp.attrs["sink"] = sink_marker in table.root

    def after_refresh(state, result, sp):
        if isinstance(result, dict) and result.get("applied"):
            sp.attrs["from"], sp.attrs["to"] = result["from"], result["to"]

    def after_maint(state, result, sp):
        sp.attrs["ran"] = result is not None

    tracer.wrap(A, "apply_cdc_batch", "apply")
    tracer.wrap(S, "apply_cdc_batch", "apply")
    tracer.wrap(A, "with_token_validation", "tokens")
    tracer.wrap(A, "merge_lww", "merge")
    tracer.wrap(LakeTable, "read", "table.read", before_read, after_read)
    tracer.wrap(LakeTable, "overwrite_buckets", "table.overwrite", before_write, after_write)
    tracer.wrap(LakeTable, "append", "table.append")
    tracer.wrap(LakeTable, "changes", "table.changes")
    tracer.wrap(INC, "refresh_agg_mart", "incremental.refresh", None, after_refresh)
    tracer.wrap(INC, "rebuild_agg_mart", "incremental.rebuild")
    tracer.wrap(M, "rolling_maintenance", "maintenance", None, after_maint)


def _under(spans, sp, names, by_id) -> bool:
    p = sp.parent
    while p is not None:
        if by_id[p].name in names:
            return True
        p = by_id[p].parent
    return False


def layer_metrics(
    spans: list[Span], jobs: list[SparkJob], window: Span, phase: dict, cores: int,
    setup: dict, change_rows: list[int],
) -> tuple[dict, dict]:
    """Named per-layer metrics of one traced phase (None where the layer
    did not run) and the self-time table {span name: (calls, total ms,
    self ms)}."""
    inside = subtree(spans, {window.id})
    spans = [s for s in spans if s.id in inside]
    by_id = {s.id: s for s in spans}
    owner = attribute_jobs(jobs, spans)
    win_jobs = [j for sid in inside for j in owner.get(sid, [])]

    def named(name, pred=lambda s: True):
        return [s for s in spans if s.name == name and pred(s)]

    def jobs_under(roots):
        ids = subtree(spans, {s.id for s in roots})
        return [j for sid in ids for j in owner.get(sid, [])]

    def med(xs):
        return median(xs) if xs else None

    events = phase["events"] or 1
    window_ms = window.ms
    m: dict = {
        "session.start_s": setup["session_s"],
        "generator.log_s": setup["generator_s"],
        "spark.jobs": len(win_jobs),
        "spark.tasks": sum(j.tasks for j in win_jobs),
        "spark.executor_run_ms": sum(j.run_ms for j in win_jobs),
        "spark.executor_cpu_ms": sum(j.cpu_ms for j in win_jobs),
        "spark.gc_ms": sum(j.gc_ms for j in win_jobs),
        "spark.cpu_busy_frac": sum(j.run_ms for j in win_jobs) / (window_ms * cores),
        "spark.jobs_per_op": len(win_jobs) / max(1, len(phase["ops"])),
    }

    applies = named("apply")
    m["apply.epoch_ms"] = med([s.ms for s in applies])
    m["apply.spark_jobs_per_epoch"] = len(jobs_under(applies)) / len(applies) if applies else None
    aj = jobs_under(applies)
    m["tokens.py_bytes_sent"] = sum(j.py_bytes_sent for j in aj) / events if applies else None
    m["tokens.py_bytes_returned"] = sum(j.py_bytes_returned for j in aj) / events if applies else None

    merges = named("merge")
    mj = jobs_under(merges)
    n_merge = len(merges) or 1
    m["merge.ms"] = med([s.ms for s in merges])
    m["merge.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in mj) / n_merge if merges else None
    m["merge.shuffle_records"] = sum(j.shuffle_records for j in mj) / n_merge if merges else None
    m["merge.spill_bytes"] = sum(j.spill_bytes for j in mj) / n_merge if merges else None

    sink_writes = named("table.overwrite", lambda s: s.attrs.get("sink"))
    merge_writes = [s for s in sink_writes if _under(spans, s, {"merge"}, by_id)]
    m["merge.rows_rewritten_per_event"] = (
        sum(s.attrs.get("rows_written", 0) for s in merge_writes) / events if merge_writes else None
    )
    m["table.overwrite_ms"] = med([s.ms for s in sink_writes])
    m["table.files_written_per_commit"] = (
        sum(s.attrs.get("files_written", 0) for s in merge_writes) / len(merge_writes)
        if merge_writes else None
    )

    lookups = named("lookup")
    reads = named("table.read", lambda s: s.attrs.get("sink"))
    lookup_reads = [s for s in reads if _under(spans, s, {"lookup"}, by_id)]
    m["table.read_plan_ms"] = med([s.ms for s in (lookup_reads or reads)])
    m["table.spark_jobs_per_lookup"] = len(jobs_under(lookups)) / len(lookups) if lookups else None
    files = phase["info"].get("files") or []
    m["table.files_scanned_per_lookup"] = sum(f[0] for f in files) / len(files) if files else None
    m["table.skip_ratio"] = (
        sum(1 - f[0] / f[1] for f in files if f[1]) / len(files) if files else None
    )

    progress = phase["info"].get("progress") or []
    dur = [p["durationMs"] for p in progress]
    m["stream.trigger_ms"] = med([d["triggerExecution"] for d in dur])
    m["stream.add_batch_ms"] = med([d.get("addBatch", 0) for d in dur])
    m["stream.source_commit_ms"] = med([d["triggerExecution"] - d.get("addBatch", 0) for d in dur])

    refreshes = named("incremental.refresh")
    m["incremental.refresh_ms"] = med([s.ms for s in refreshes])
    m["incremental.change_rows"] = med(change_rows) if change_rows else None

    maint = named("maintenance", lambda s: s.attrs.get("ran"))
    m["maintenance.ms"] = med([s.ms for s in maint])
    maint_writes = [s for s in sink_writes if _under(spans, s, {"maintenance"}, by_id)]
    m["maintenance.rows_rewritten"] = (
        sum(s.attrs.get("rows_written", 0) for s in maint_writes) / len(maint_writes)
        if maint_writes else None
    )

    for s in spans:
        if s.name.startswith("query."):
            m.setdefault(f"{s.name}_s", [])
            m[f"{s.name}_s"].append(s.ms / 1000.0)
    for k in [k for k in m if k.startswith("query.")]:
        m[k] = median(m[k])

    selfs = self_times_ms(spans)
    table: dict[str, list] = {}
    layer_self: dict[str, float] = {}
    for s in spans:
        row = table.setdefault(s.name, [0, 0.0, 0.0])
        row[0] += 1
        row[1] += s.ms
        row[2] += selfs[s.id]
        layer = "query" if s.name.startswith("query.") else LAYER_OF.get(s.name)
        if layer:
            layer_self[layer] = layer_self.get(layer, 0.0) + selfs[s.id]
    for layer in sorted(set(LAYER_OF.values()) | {"query"}):
        m[f"self_frac.{layer}"] = layer_self.get(layer, 0.0) / window_ms
    return m, table
