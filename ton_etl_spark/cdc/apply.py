"""Batch CDC apply + replay + the independent final-state oracle.

The oracle is the reference's "final state after replaying the change log"
semantics — rank-1-by-position per key, drop keys whose winning event is a
delete (``datalake/athena_ddl.sql:659-669`` balances snapshot;
``parser/db.py:310-330`` LWW guards; ``parser/main.py:15-16`` delete rule) —
computed in ONE pass over the whole log, independently of the incremental
MERGE path.  Tests assert byte-equality of both paths under out-of-order +
duplicate + schema-evolving delivery.
"""

from __future__ import annotations

import functools
import operator
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from ton_etl_spark.cdc.schema import (
    KEY_COLS,
    LSN_COL,
    OP_COL,
    TS_COL,
    op_priority_expr,
)
from ton_etl_spark.functions.tokens import with_token_validation
from ton_etl_spark.lake.table import LakeTable, arrow_rows, bucket_of
from ton_etl_spark.lake.merge import merge_lww


def final_state_oracle(events: DataFrame) -> DataFrame:
    """Single-pass LWW reduction of a (possibly duplicated, unordered) log.

    Exact duplicate redeliveries collapse because the winner per key is
    picked by (lsn, ts_ms, op_priority) and duplicates share all three.
    """
    w = W.partitionBy(*KEY_COLS).orderBy(
        F.col(LSN_COL).desc(),
        F.coalesce(F.col(TS_COL), F.lit(0)).desc(),
        op_priority_expr().desc(),
    )
    cols = events.columns
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .where(F.col(OP_COL) != "d")
        .select(*cols)
    )


def read_state(
    table: LakeTable,
    lsn_range: tuple[int | None, int | None] | None = None,
    version: int | None = None,
    tag: str | None = None,
    where_in: dict | None = None,
) -> DataFrame:
    """Consumer view of a sequences table: live rows only (tombstones are
    retained in storage for out-of-order protection; see lake/merge.py).

    ``lsn_range=(lo, hi)`` restricts to rows whose last-change LSN falls in
    the inclusive range — with the table's default ``stats_cols=['lsn']``
    the probe skips files at manifest level, so an incremental consumer
    ("give me keys changed since LSN x") reads O(matching files), not the
    full 100 TB state.

    ``where_in`` point-probes the STATE (reference analog: the online
    per-key SELECTs, ``parser/db.py:112-256``): same bucket/stats/bloom
    pruning as ``LakeTable.read(where_in=)``, but a deleted key returns
    no row instead of its tombstone — online lookups answer "what is the
    value now", not "what does storage hold".

    ``version``/``tag`` time-travel the view (``tag`` = a named pinned
    snapshot, e.g. the exact training set of a past run)."""
    where = {LSN_COL: lsn_range} if lsn_range is not None else None
    return live_state(
        table.read(where=where, version=version, tag=tag, where_in=where_in)
    )


def live_state(df: DataFrame) -> DataFrame:
    """The ONE live-state rule — tombstones out — shared by ``read_state``
    and the ``lookup`` CLI, so the two surfaces cannot drift (op is never
    NULL in a CDC frame by construction; ``!= 'd'`` therefore keeps every
    live row)."""
    return df.where(F.col(OP_COL) != "d")


def make_sequences_table(
    spark: SparkSession, root: str, n_buckets: int = 16,
    target_file_rows: int | None = None,
    stats_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
) -> LakeTable:
    from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA

    # start from the PRE-evolution schema: extra_meta must arrive mid-stream.
    # LSN bounds are tracked by default: the footer is already opened per
    # commit for row counts, so the bounds are free, and they are what makes
    # read_state(lsn_range=...) skip files.  Rows are also CLUSTERED by lsn
    # within each bucket by default — a per-task sort the copy-on-write
    # rewrite absorbs (measured within noise on ingest A/B; the dynamic
    # partition writer needed a sort anyway), and it is what makes the
    # bounds tight when target_file_rows splits a bucket: measured 112/138
    # files skippable on a p95-lsn probe vs 1/138 unsorted.
    if stats_cols is None:
        stats_cols = [LSN_COL]
    if sort_cols is None:
        sort_cols = [LSN_COL]
    return LakeTable.get_or_create(
        spark, root, schema=CDC_EVENT_SCHEMA, key_cols=KEY_COLS,
        n_buckets=n_buckets, target_file_rows=target_file_rows,
        stats_cols=stats_cols, sort_cols=sort_cols, bloom_cols=bloom_cols,
    )


def apply_cdc_batch(
    table: LakeTable,
    batch: DataFrame,
    epoch: int,
    lineage: LakeTable | None = None,
) -> dict:
    """Apply one delivery micro-batch: record per-partition lineage of the
    delivered rows (committed from the driver: no Spark write), validate
    tokens (vectorized pandas UDF), then MERGE (``merge_lww``).
    Idempotent on ``epoch`` (the commit manifest key), so a re-executed
    foreachBatch or a crash-restart replaying the same epoch is a
    no-op."""
    commit_key = f"epoch={epoch}"
    snap = table.current()
    if snap.has_commit_key(commit_key):
        return {"applied": False, "epoch": epoch}
    table.check_bucket_fn(snap)
    # Deliberately NOT persisted: at bench scale (1.4M rows/batch) caching
    # the full payload measured 6-20% SLOWER than paying the second,
    # column-pruned scan below (A/B 2026-08-17: persist 472-540k ev/s vs
    # two-scan 564-571k, persist-first ordering).  The STREAMING wrapper
    # persists its micro-batches anyway — there the win is progress-counter
    # exactness and (envelope path) from_json decode reuse.
    # One aggregate over the RAW batch, grouped by (partition, bucket) when
    # lineage is on and by bucket otherwise, gives the touched buckets (the
    # validation UDF below would otherwise run twice — once for the probe,
    # once for the merge; measured ~2× epoch cost) and the lineage rows.
    # Lineage describes the RAW batch, before validation: (a) the audit
    # record should describe what was DELIVERED, not what survived repair —
    # exactly the reference's per-batch consumer counters
    # (parser/main.py:70,136-137); (b) it keeps the validation UDF out of
    # this scan, so the Arrow bridge runs once per epoch, not twice.
    by = [bucket_of(snap.key_cols, snap.n_buckets).alias("bucket")]
    aggs = [F.count(F.lit(1)).alias("event_count")]
    if lineage is not None:
        by.insert(0, F.spark_partition_id().alias("partition_id"))
        aggs += [
            F.min(LSN_COL).alias("min_lsn"),
            F.max(LSN_COL).alias("max_lsn"),
            # order-insensitive content hash (XOR never overflows under
            # ANSI mode, unlike SUM of 64-bit hashes)
            F.bit_xor(F.xxhash64(*[F.col(c) for c in batch.columns])).alias("commit_hash"),
        ]
    groups = batch.groupBy(*by).agg(*aggs).collect()  # ≤ partitions × n_buckets rows
    buckets = sorted({r["bucket"] for r in groups})
    if lineage is not None:
        lineage.append(_lineage_rows(groups, epoch), commit_key=commit_key)

    # a batch carrying token payloads is validated; other schemas pass
    # through (heterogeneous multi-table sinks do their own domain
    # validation, like the reference's per-table parsers)
    if "tokens" in batch.columns and "n_tok" in batch.columns:
        batch = with_token_validation(batch)

    stats = merge_lww(table, batch, commit_key=commit_key, buckets=buckets)
    stats["epoch"] = epoch
    return stats


def replay_log_batched(
    spark: SparkSession,
    batch_dirs: list[str],
    table_root: str,
    lineage_root: str | None = None,
    n_buckets: int = 16,
) -> LakeTable:
    """Batch replay of a delivery schedule (the backfill.py analog,
    ``parser/backfill.py:14-106``): each directory is one micro-batch, read
    with ITS OWN file schema so pre-evolution batches genuinely lack the
    late-added column and the table schema evolves mid-replay."""
    table = make_sequences_table(spark, table_root, n_buckets=n_buckets)
    lineage = None
    if lineage_root is not None:
        lineage = make_lineage_table(spark, lineage_root)
    for epoch, d in enumerate(batch_dirs):
        batch = spark.read.parquet(d)
        apply_cdc_batch(table, batch, epoch=epoch, lineage=lineage)
    return table


LINEAGE_SCHEMA = "checkpoint_epoch long, partition_id int, min_lsn long, max_lsn long, event_count long, commit_hash long"


def _lineage_rows(groups: list, epoch: int):
    """The lineage rows of one epoch, one per delivered partition, from the
    batch's (partition, bucket) groups: min, max, count and XOR all compose
    across a partition's bucket sub-groups.  An Arrow table, so
    ``append`` commits it through the driver writer."""
    parts: dict[int, list] = {}
    for r in groups:
        parts.setdefault(r["partition_id"], []).append(r)
    rows = [
        (epoch, pid,
         min((r["min_lsn"] for r in rs if r["min_lsn"] is not None), default=None),
         max((r["max_lsn"] for r in rs if r["max_lsn"] is not None), default=None),
         sum(r["event_count"] for r in rs),
         functools.reduce(operator.xor, (r["commit_hash"] for r in rs)))
        for pid, rs in sorted(parts.items())
    ]
    return arrow_rows(
        T.StructType.fromDDL(LINEAGE_SCHEMA), [list(c) for c in zip(*rows)] if rows else None
    )


def make_lineage_table(spark: SparkSession, root: str) -> LakeTable:
    return LakeTable.get_or_create(
        spark, root, schema=T.StructType.fromDDL(LINEAGE_SCHEMA),
        key_cols=["checkpoint_epoch", "partition_id"], n_buckets=4,
    )


def read_full_log(spark: SparkSession, log_path: str) -> DataFrame:
    """Read every delivery file of a written log (both phases), normalized to
    the evolved schema, for the oracle path."""
    from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA_EVOLVED

    phase_dirs = [
        os.path.join(log_path, d) for d in sorted(os.listdir(log_path)) if d.startswith("phase=")
    ]
    dfs = []
    for d in phase_dirs:
        df = spark.read.schema(CDC_EVENT_SCHEMA_EVOLVED).parquet(
            *[os.path.join(d, s) for s in sorted(os.listdir(d)) if s.startswith("__seq=")]
        )
        dfs.append(df)
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out
