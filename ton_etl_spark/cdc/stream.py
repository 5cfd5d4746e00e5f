"""Structured Streaming tail of the change log.

The production analog of the reference's Kafka consumer loop
(``parser/main.py:85-143``): an unbounded source of CDC envelopes, applied
in micro-batches.  Every starter is a thin caller of two private helpers:

- ``_run``, the one consumer loop: a file source (``_source``) drained by
  ``foreachBatch`` under a checkpoint, each micro-batch persisted around
  the starter's callback.
- ``_sink_epoch``, the one per-sink epoch step: the exactly-once MERGE
  (``apply_cdc_batch``), then the mart refresh, then rolling maintenance,
  then the symlink export — each optional, chosen by the starter.

The starters differ only in source and policy:

- ``start_cdc_stream``: decoded delivery parquet into one sink, with the
  whole policy (lineage, maintenance, mart, export).
- ``start_cdc_multi_table_stream`` / ``start_cdc_catalog_stream``: one
  stream of Kafka-shaped frames (the exact column set of
  ``readStream.format("kafka")``; swapping in a real broker is replacing
  the file source with ``cdc.envelope.kafka_source``) routed to N sinks by
  one rule: a frame goes to the sink its ``__table`` names.  Both run the
  one routed step ``_start_routed``: per trigger it collects the routes
  present in the batch, and for each present route that the starter's
  route map names, decodes that route's slice with the route's own schema
  and runs ``_sink_epoch`` on it, with lineage and maintenance.  A route
  with no rows in a trigger commits nothing.  The multi-table stream's
  route map is fixed at start; the catalog stream converges its map onto
  the catalog every trigger, because its table set is dynamic.

Sink, lineage and mart handles are opened once per stream: a ``LakeTable``
handle holds only ``spark`` and ``root`` and re-reads the snapshot pointer
on every call.

Exactly-once contract (reference analogs X1/X2/X6 in SURVEY.md §2.9):
Spark's checkpoint gives at-least-once ``foreachBatch`` invocations with a
stable ``batch_id``; the commit manifest key ``epoch=<batch_id>`` recorded
in the table snapshot makes re-executions no-ops — commit-then-checkpoint
ordering exactly mirrors the reference's "DB commit, then Kafka commit".
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ton_etl_spark.cdc.apply import apply_cdc_batch, make_lineage_table, make_sequences_table
from ton_etl_spark.cdc.envelope import KAFKA_FRAME_SCHEMA, ROUTE_COL, parse_cdc_envelope
from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA_EVOLVED, DELIVERY_OBSERVATION, KEY_COLS
from ton_etl_spark.lake.table import LakeTable


def _source(
    spark: SparkSession, schema: T.StructType | str, glob: str, max_files_per_trigger: int
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(glob)
    )


def _run(src: DataFrame, checkpoint_dir: str, on_batch: Callable[[DataFrame, int], None]):
    """Start (or restart from checkpoint) ``src`` drained by ``on_batch``.
    The micro-batch is persisted around ``on_batch``, which consumes it
    more than once (bucket probe, lineage, merge): the source is read and
    any streaming decode runs once per trigger, not once per action, and
    the progress counters (``numInputRows``, observed ``delivery`` events)
    are exact instead of one count per execution pass."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            on_batch(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return (
        src.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _run_rolling_maintenance(
    table: LakeTable,
    lineage: LakeTable | None,
    batch_df: DataFrame,
    batch_id: int,
    every: int | None,
    groups: int,
    tombstone_retain_lsn: int | None,
) -> None:
    """Run the rolling maintenance policy for the latest maintenance epoch
    at or before ``batch_id`` (``k * every - 1``) on each of the sink and
    its lineage table that does not yet hold that epoch's ``roll=`` commit:
    one bucket group of the sink, collapsed by ``rewrite_buckets`` or, with
    a retain window, rewritten by ``gc_tombstones`` below max applied LSN −
    ``tombstone_retain_lsn``; plus a whole-table compaction of the small
    append-only lineage table.  A single-sink stream is thus maintained on
    its maintenance epochs; a routed sink with no rows on one is maintained
    on its next trigger.  The commit keys are checked first, so an ordinary
    trigger runs no Spark job.

    With lineage, the max applied LSN is the LINEAGE table's recorded
    ``max_lsn``, because it covers every epoch applied so far, not only
    this micro-batch; without lineage it is this batch's max."""
    if not every or batch_id + 1 < every:
        return
    from ton_etl_spark.lake.maintenance import (
        gc_tombstones,
        rewrite_buckets,
        rolling_maintenance,
        rolling_slot,
    )

    epoch = (batch_id + 1) // every * every - 1

    def due(t: LakeTable | None, n_groups: int) -> bool:
        return t is not None and not t.current().has_commit_key(
            rolling_slot(epoch, every, n_groups)[1]
        )

    if due(table, groups):
        rewrite = rewrite_buckets
        if tombstone_retain_lsn is not None:
            if lineage is not None:
                mx = lineage.read().agg(F.max("max_lsn")).first()[0]
            else:
                mx = batch_df.agg(F.max("lsn")).first()[0]
            if mx is not None:
                rewrite = partial(gc_tombstones, horizon_lsn=mx - tombstone_retain_lsn)
        rolling_maintenance(table, epoch, every=every, groups=groups, rewrite=rewrite)
    if due(lineage, 1):
        # append-only, one file per bucket per epoch — compact it whole;
        # it is small by construction
        rolling_maintenance(lineage, epoch, every=every, groups=1)


def _sink_epoch(
    table: LakeTable,
    events: DataFrame,
    batch_id: int,
    lineage: LakeTable | None = None,
    maintenance_every: int | None = None,
    maintenance_groups: int = 4,
    tombstone_retain_lsn: int | None = None,
    mart: LakeTable | None = None,
    export_dir: str | None = None,
) -> None:
    """One sink's epoch: merge, then mart refresh, then rolling
    maintenance, then export — each step sees the commits of the ones
    before it.  The mart is folded forward from its own cursor
    (``last_synced_version``) to the merge's head; a mart with no cursor
    is rebuilt by the same call."""
    apply_cdc_batch(table, events, epoch=batch_id, lineage=lineage)
    if mart is not None:
        from ton_etl_spark.lake.incremental import last_synced_version, refresh_agg_mart

        refresh_agg_mart(mart, table, last_synced_version(mart), table.current_version())
    _run_rolling_maintenance(
        table, lineage, events, batch_id,
        maintenance_every, maintenance_groups, tombstone_retain_lsn,
    )
    if export_dir is not None:
        from ton_etl_spark.lake.ddl import write_symlink_manifest

        # re-read the pointer: maintenance may have committed after the
        # merge; the export must name the latest published snapshot
        write_symlink_manifest(table, export_dir, version=table.current_version())


def _start_routed(
    spark: SparkSession,
    frames_glob: str,
    checkpoint_dir: str,
    max_files_per_trigger: int,
    routes: Callable[[set[str]], dict],
    *policy,
):
    """The one routed stream: Kafka-shaped frames with ONLY the routing
    field extracted on the stream (one narrow JVM expression per message),
    drained by one per-trigger step.

    ``routes(present)`` is read once per trigger with the set of route
    names that have rows in it, and returns ``{name: (table, payload
    schema or None, lineage or None)}``.  For each present route the map
    names, in sorted order, the step decodes that route's slice with its
    schema and runs ``_sink_epoch`` on it (``policy``: its maintenance
    arguments).  A route missing from the map is never decoded; a route
    with no rows in the trigger gets no merge, no lineage row and no
    rolling maintenance.

    The DECODED slice is persisted too: the sink step consumes it several
    times (bucket probe, lineage, merge, maintenance max-lsn) and each
    action would otherwise re-run the heavy ``from_json`` over the raw
    frames, so every message is full-decoded exactly once."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        present = {r[ROUTE_COL] for r in batch_df.select(ROUTE_COL).distinct().collect()}
        sinks = routes(present)
        for name in sorted(present & sinks.keys()):
            table, payload_schema, lineage = sinks[name]
            sl = parse_cdc_envelope(
                batch_df.where(F.col(ROUTE_COL) == name), payload_schema=payload_schema
            ).persist()
            try:
                _sink_epoch(table, sl, batch_id, lineage, *policy)
            finally:
                sl.unpersist()

    frames = _source(spark, KAFKA_FRAME_SCHEMA, frames_glob, max_files_per_trigger)
    routed = frames.withColumn(
        ROUTE_COL, F.get_json_object(F.col("value").cast("string"), "$.__table")
    )
    return _run(routed.where(F.col(ROUTE_COL).isNotNull()), checkpoint_dir, _apply)


def start_cdc_stream(
    spark: SparkSession,
    log_glob: str,
    table_root: str,
    checkpoint_dir: str,
    lineage_root: str | None = None,
    n_buckets: int = 16,
    max_files_per_trigger: int = 2,
    maintenance_every: int | None = None,
    maintenance_groups: int = 4,
    tombstone_retain_lsn: int | None = None,
    mart_root: str | None = None,
    export_dir: str | None = None,
):
    """Start (or restart from checkpoint) the streaming tail.

    ``log_glob`` is a glob over delivery parquet files, e.g.
    ``<log>/phase=*/__seq=*``.  Restart with the same ``checkpoint_dir``
    resumes from the last committed source offset; batches that were
    applied but not checkpointed replay and are skipped by manifest.

    ``maintenance_every``: every K epochs, run the rolling maintenance
    policy (``lake.maintenance.rolling_maintenance``) on one bucket group
    of the sink table — and compact the append-only lineage table, whose
    per-commit files would otherwise grow without bound.  With
    ``tombstone_retain_lsn`` set, the same rewrite GCs tombstones older
    than (max applied LSN − retain window); ONLY set it when the source's
    redelivery/out-of-order horizon is genuinely bounded by that window —
    a GC ahead of the redelivery bound re-opens the resurrection window
    (see ``gc_tombstones``).

    ``mart_root``: maintain a derived aggregate mart (a streaming
    materialized view, one row per ``source``) alongside the sink — after
    each merge, the mart is folded forward from ``LakeTable.changes`` over
    exactly the version
    interval the merge produced (reference analog: the incremental
    nft_events build as a continuous process).  Crash-safe with no side
    channel: the refresh cursor is recovered from the mart's own commit
    keys (``last_synced_version``), so a crash between the merge and the
    refresh simply widens the next epoch's interval, and a replayed epoch
    whose merge was a manifest no-op refreshes nothing.

    ``export_dir``: keep an external-engine export (``lake/ddl.py``
    symlink manifest) in lockstep with the sink — refreshed after every
    commit, so Athena/DuckDB readers always see the latest published
    snapshot and never a torn one (the manifest write is an atomic
    replace).  The reference republishes its Athena tables on an airflow
    schedule (``datalake/airflow``); here the natural cadence is
    per-commit, since the refresh is one small metadata file."""
    table = make_sequences_table(spark, table_root, n_buckets=n_buckets)
    lineage = make_lineage_table(spark, lineage_root) if lineage_root else None
    mart = None
    if mart_root is not None:
        from ton_etl_spark.lake.incremental import make_agg_mart

        mart = make_agg_mart(spark, mart_root, group_cols=["source"])

    src = _source(spark, CDC_EVENT_SCHEMA_EVOLVED, log_glob, max_files_per_trigger)
    # free per-micro-batch delivery counters in the streaming progress
    # (SURVEY A9; the reference's "N messages/sec" consumer log line) —
    # observed metrics ride the existing scan, no extra pass
    src = src.observe(
        DELIVERY_OBSERVATION,
        F.count(F.lit(1)).alias("events"),
        F.min("lsn").alias("min_lsn"),
        F.max("lsn").alias("max_lsn"),
    )
    return _run(
        src,
        checkpoint_dir,
        lambda batch_df, batch_id: _sink_epoch(
            table, batch_df, batch_id, lineage,
            maintenance_every, maintenance_groups, tombstone_retain_lsn,
            mart=mart, export_dir=export_dir,
        ),
    )


def start_cdc_multi_table_stream(
    spark: SparkSession,
    frames_glob: str,
    table_roots: dict[str, str],
    checkpoint_dir: str,
    lineage_roots: dict[str, str] | None = None,
    n_buckets: int = 16,
    max_files_per_trigger: int = 2,
    maintenance_every: int | None = None,
    maintenance_groups: int = 4,
    tombstone_retain_lsn: int | None = None,
    payload_schemas: dict | None = None,
):
    """One envelope stream fanned out to N LakeTables — the reference's
    topic→parsers routing (one consumed topic feeds several parser sinks,
    ``parser/parsers/__init__.py:118-132``; topics list
    ``datalake/topics.py:1-24``).

    ``table_roots`` maps a ``__table`` value to that sink's LakeTable root.
    The sinks may be HETEROGENEOUS: ``payload_schemas`` maps a table name
    to its own payload ``StructType`` (must carry the engine envelope
    columns doc_id/op/lsn/ts_ms; defaults to the tokenized-sequence
    schema) — the reference's parsers each produce a different table
    shape from the same topic.  A key of ``payload_schemas`` or
    ``lineage_roots`` that names no route in ``table_roots`` is a
    ``ValueError`` before anything is created.

    Decode is two-phase, sized to what each phase needs: the STREAM
    extracts only the routing field, and each table's full Debezium
    decode (``from_json`` with THAT table's schema) runs inside
    ``foreachBatch`` on that table's slice only — so every message is
    full-decoded exactly once, with its own schema, and messages for
    tables this job does not own (or with unparseable routing) are
    dropped before any heavy parse, the same way the reference ignores
    topics absent from its routing map.

    A sink with no rows in a trigger is skipped: no merge, no lineage row,
    no maintenance.  ``maintenance_every``/``maintenance_groups``/
    ``tombstone_retain_lsn``: the same rolling maintenance policy as
    ``start_cdc_stream``, applied to each sink (and its lineage table) on
    its first trigger with rows at or after each maintenance epoch — without
    it a long-running multi-table stream's lineage tables grow one file per
    bucket per epoch without bound.

    Exactly-once is PER SINK: every table records ``epoch=<batch_id>`` in
    its OWN commit manifest.  A crash after table A committed epoch k but
    before table B did replays the micro-batch on restart — A's merge is a
    manifest no-op, B's applies — so each table independently converges to
    exactly-once without cross-table coordination (the same property the
    reference gets from per-sink consumer groups)."""
    schemas = payload_schemas or {}
    lineage_roots = lineage_roots or {}
    unknown = sorted((schemas.keys() | lineage_roots.keys()) - table_roots.keys())
    if unknown:
        raise ValueError(
            f"payload_schemas/lineage_roots name {unknown}, which are not "
            f"routes of table_roots {sorted(table_roots)}"
        )
    sinks = {}
    for name, root in table_roots.items():
        if name in schemas:
            t = LakeTable.get_or_create(
                spark, root, schema=schemas[name], key_cols=KEY_COLS,
                n_buckets=n_buckets,
            )
        else:
            t = make_sequences_table(spark, root, n_buckets=n_buckets)
        # config-drift guard: restarting WITHOUT the schema a sink was built
        # with would decode its frames against the default sequences schema,
        # silently nulling the custom payload columns and letting those rows
        # win LWW over good stored data.  The sink's own persisted schema is
        # the source of truth — every stored payload column must survive the
        # decode we are about to run.
        stored = set(t.current().schema.fieldNames())
        decode = set((schemas.get(name) or CDC_EVENT_SCHEMA_EVOLVED).fieldNames())
        missing = sorted(stored - decode)
        if missing:
            raise ValueError(
                f"table {name!r} at {root} stores columns {missing} that the "
                f"configured payload schema would not decode — pass the "
                f"table's schema in payload_schemas (config drift guard)"
            )
        lineage = make_lineage_table(spark, lineage_roots[name]) if name in lineage_roots else None
        sinks[name] = (t, schemas.get(name), lineage)
    return _start_routed(
        spark, frames_glob, checkpoint_dir, max_files_per_trigger, lambda _present: sinks,
        maintenance_every, maintenance_groups, tombstone_retain_lsn,
    )


def start_cdc_catalog_stream(
    spark: SparkSession,
    frames_glob: str,
    catalog_provider,
    tables_dir: str,
    checkpoint_dir: str,
    lineage_dir: str | None = None,
    key_cols: list[str] | None = None,
    n_buckets: int = 16,
    max_files_per_trigger: int = 2,
    maintenance_every: int | None = None,
    maintenance_groups: int = 4,
    tombstone_retain_lsn: int | None = None,
    table_kwargs: dict | None = None,
):
    """Multi-table envelope stream whose ROUTING MAP IS THE CATALOG: before
    every micro-batch the stream polls ``catalog_provider()`` — a callable
    returning ``{table_name: information_schema.columns rows}`` — and
    converges each sink onto it via ``lake.catalog.sync_table_from_catalog``
    (create when absent, additive evolution when the catalog grew, loud
    failure on a type change — unless the sinks opt into ``type_widening``
    via ``table_kwargs``, in which case a lossless catalog promotion
    converges mid-stream: the widened schema publishes BEFORE the batch
    decodes, so the very frames that carry the first out-of-range values
    parse against the wide type).  The streaming end of the reference's
    catalog-driven auto-create: ``datalake/datalake_daily_sync.py:268-296``
    provisions targets from the Glue catalog on a schedule;
    ``datalake/metadata_snapshot.py:44-79`` get-or-creates from the live
    Postgres catalog.  Here the "schedule" is every micro-batch — the poll
    is O(columns) driver-side metadata work, so a new source table starts
    flowing within one trigger of appearing in the catalog.

    Sinks live at ``<tables_dir>/<table_name>`` (lineage, when enabled, at
    ``<lineage_dir>/<table_name>``, opened the first time the table has
    rows).  Each slice decodes against its sink's STORED schema — a
    superset of the catalog under the additive-only contract — so a column
    the catalog dropped keeps decoding (new row images null it, which is
    the correct complete-image semantics), and a column the catalog just
    added decodes from this very batch onward.  Provisioning and evolution
    converge on the WHOLE catalog, but only tables with rows in the trigger
    are decoded, merged and maintained — a catalog of hundreds of tables
    must not cost hundreds of no-op Spark job groups per trigger.

    Events for tables not (yet) in the catalog are dropped before any heavy
    parse, exactly as the reference ignores topics absent from its routing
    map; history from before a table entered the catalog is backfilled with
    the offline replay path (``cdc.apply.replay_log_batched``), not the
    stream.  Exactly-once is per sink via each table's own commit manifest,
    as in ``start_cdc_multi_table_stream`` — a catalog that GROWS between a
    crash and the restart simply sees the replayed micro-batch apply to the
    new table and no-op on the old ones."""
    from ton_etl_spark.lake.catalog import sync_table_from_catalog

    key_cols = list(key_cols or KEY_COLS)
    lineages: dict[str, LakeTable] = {}

    def _routes(present: set[str]) -> dict:
        catalog = catalog_provider()
        sinks = {}
        for name in sorted(catalog):
            t, _report = sync_table_from_catalog(
                spark, os.path.join(tables_dir, name), catalog[name],
                key_cols=key_cols, envelope=True, n_buckets=n_buckets,
                **(table_kwargs or {}),
            )
            if name not in present:
                continue
            if lineage_dir and name not in lineages:
                lineages[name] = make_lineage_table(spark, os.path.join(lineage_dir, name))
            sinks[name] = (t, t.current().schema, lineages.get(name))
        return sinks

    return _start_routed(
        spark, frames_glob, checkpoint_dir, max_files_per_trigger, _routes,
        maintenance_every, maintenance_groups, tombstone_retain_lsn,
    )


def run_stream_to_completion(
    spark: SparkSession,
    log_glob: str,
    table_root: str,
    checkpoint_dir: str,
    **kw,
) -> LakeTable:
    q = start_cdc_stream(spark, log_glob, table_root, checkpoint_dir, **kw)
    q.awaitTermination()
    return LakeTable.load(spark, table_root)
