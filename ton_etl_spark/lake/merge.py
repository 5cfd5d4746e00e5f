"""Last-writer-wins MERGE for LakeTable.

Semantics mirror the reference's guarded upserts and delete handling:

- LWW guard: apply an incoming row only if it is *newer* than the stored
  row — reference ``ON CONFLICT ... WHERE last_transaction_lt <
  EXCLUDED.last_transaction_lt`` (``parser/db.py:310-330``) and the
  rank-1-by-``lt desc`` snapshot queries (``datalake/athena_ddl.sql:659-669``).
- Delete handling: ``__op == 'd'`` removes the key — reference drops 'd'
  events for append marts (``parser/main.py:15-16``) but our keyed target
  table honors tombstones, matching "final Postgres state".
- Ordering/tie-break: events are ordered by ``(lsn, ts_ms, op_priority)``
  with op priority d > u > r > c, so redelivered duplicates and
  out-of-order arrival converge to the same state (order-insensitive by
  construction).

Scale design (the part the reference outsources to Postgres indexes):

1. **One shuffle per MERGE.** The merge is ``union(current-state buckets,
   incoming events) → groupBy(key) → max_by(payload, ord)``.  Because the
   table's bucket function equals Spark's HashPartitioning id expression
   (``lake/table.py bucket_of``), running that groupBy with
   ``spark.sql.shuffle.partitions = n_buckets`` leaves the winners already
   partitioned by storage bucket — the write needs NO further exchange and
   still emits one file per bucket.  An earlier 4-exchange variant (salted
   two-stage reduce → full-outer join with current state → repartition by
   bucket) moved the full token payload through four shuffles; this moves
   it through one.
2. **Hot keys are pre-reduced map-side.** The groupBy plans a partial
   aggregation before the exchange: each input partition emits at most one
   candidate row per key, so a doc_id with millions of churn events in one
   batch reaches the reducer as ≤ n_input_partitions candidates.  This is
   the salting effect (spread hot-key work across map tasks, re-merge at
   apply) derived from the input partitioning instead of an explicit salt
   column.
3. **Bucket-pruned copy-on-write.** Only buckets touched by the batch are
   read and rewritten; a small change batch against a 100 TB table
   rewrites a bounded slice, not the world.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ton_etl_spark.cdc.schema import OP_COL, LSN_COL, TS_COL, op_priority_expr
from ton_etl_spark.lake.table import LakeTable, _merge_schemas, _conform

# One conf-pinned child session per (SparkContext, n_buckets), reused across
# merges: a multi-day stream used to create a session per epoch per table.
# Sessions are lightweight (shared context, private SQLConf) but not free,
# and the registry stays tiny because n_buckets takes few distinct values.
_CHILD_SESSIONS: dict = {}


def _child_session(spark, n_buckets: int):
    """The cached child session whose ``shuffle.partitions`` is pinned to
    ``n_buckets``.  Keyed by context identity so a stopped-and-recreated
    SparkContext never serves a stale child (the ``is not`` check catches
    id() reuse)."""
    key = (id(spark.sparkContext), n_buckets)
    child = _CHILD_SESSIONS.get(key)
    if child is None or child.sparkContext is not spark.sparkContext:
        child = spark.newSession()
        child.conf.set("spark.sql.shuffle.partitions", str(n_buckets))
        _CHILD_SESSIONS[key] = child
    return child


def _ord_expr(prefix: str = "") -> F.Column:
    """The LWW total order: (lsn, ts_ms, op_priority), struct-comparable."""
    c = (lambda n: F.col(prefix + n)) if prefix else F.col
    return F.struct(
        c(LSN_COL).alias("lsn"),
        F.coalesce(c(TS_COL), F.lit(0)).alias("ts_ms"),
        op_priority_expr(c(OP_COL)).alias("op_pri"),
    )


def merge_lww(
    table: LakeTable,
    batch: DataFrame,
    commit_key: str | None = None,
    buckets: list[int] | None = None,
) -> dict:
    """MERGE a CDC batch into ``table`` with LWW semantics, in ONE shuffle.

    ``batch`` carries the CDC envelope (op/lsn/ts_ms) plus payload columns.
    The stored row for a key keeps the envelope of its winning event
    (columns ``op``/``lsn``/``ts_ms`` persist as ``last op/lsn/ts``), so a
    *stale* redelivered event always loses against the stored state — the
    MERGE is idempotent at row level, and ``commit_key`` makes it
    idempotent at batch level.

    Tombstones ('d' winners) are KEPT in storage: if the delete row were
    dropped, a stale lower-LSN redelivery in a later batch would resurrect
    the key.  Consumers read through ``read_state`` which filters
    op != 'd'; a compaction pass may GC tombstones older than the
    redelivery horizon (the reference's maturity window analog).

    Returns stats {applied, buckets} (applied=False when the commit_key
    was already committed).
    """
    snap = table.current()
    if commit_key is not None and snap.has_commit_key(commit_key):
        return {"applied": False, "buckets": [], "rows_written": 0}
    table.check_bucket_fn(snap)
    key_cols = snap.key_cols

    # Buckets touched by this batch (≤ n_buckets ints, safe to collect).
    # Callers that wrap ``batch`` in a plan a probe shouldn't re-execute
    # (e.g. the mapInArrow validation in apply_cdc_batch) pass ``buckets``
    # computed on the RAW batch — a superset of the post-validation touched
    # set, still correct for pruning, and the probe stays a column-pruned
    # scan of just the key columns + a tiny distinct.  (Measured: probing
    # through the validation UDF re-ran the whole Arrow pipeline and nearly
    # doubled epoch cost.)
    if buckets is None:
        buckets = table.buckets_of(batch, snap)

    current = table.read(buckets=buckets)

    # align schemas additively (mid-stream new columns appear on the batch
    # side); tables that opted into type_widening also take lossless
    # promotions here (e.g. tokens array<int> -> array<bigint> mid-stream)
    target_schema = _merge_schemas(snap.schema, batch.schema, table._widening(snap))
    cur = _conform(current, target_schema)
    inc = _conform(batch, target_schema)

    # union(current one-row-per-key, incoming events) → one winner per key.
    # The partial (map-side) aggregation bounds hot-key fan-in; the final
    # aggregation's output partitioning == storage buckets when
    # shuffle.partitions == n_buckets, so the write below adds no exchange.
    ord_expr = _ord_expr()
    payload = F.struct(*[F.col(f.name) for f in target_schema.fields])
    allrows = cur.unionByName(inc)

    # The agg's exchange must land on exactly n_buckets partitions, which is
    # controlled only by spark.sql.shuffle.partitions.  Setting it on the
    # session would race with concurrent queries, and an explicit
    # repartition(n, keys) before the groupBy would move the exchange BELOW
    # the partial aggregation (raw rows shuffle; hot-key fan-in unbounded).
    # Instead the plan is re-bound into a conf-pinned CHILD session (shared
    # SparkContext, private SQLConf — cached per (context, n_buckets)) via a
    # uniquely-named global temp view: the child's conf applies only to this
    # plan, the partial_max_by stays below the single exchange, and no other
    # session is perturbed.
    spark = batch.sparkSession
    child = _child_session(spark, snap.n_buckets)
    view = f"__merge_{uuid.uuid4().hex}"
    allrows.createOrReplaceGlobalTempView(view)
    try:
        winners = (
            child.table(f"global_temp.{view}")
            .groupBy(*[F.col(c) for c in key_cols])
            .agg(F.max_by(payload, ord_expr).alias("__win"))
            .select("__win.*")
        )
        ok = table.overwrite_buckets(
            winners,
            buckets,
            commit_key=commit_key,
            schema=target_schema,
            pre_partitioned=True,
            base_version=snap.version,
        )
    finally:
        spark.catalog.dropGlobalTempView(view)
    return {"applied": ok, "buckets": sorted(buckets)}
