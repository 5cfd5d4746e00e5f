"""CDC change-log data model.

Mirrors the Debezium envelope the reference consumes — ``__op`` (c/r/u/d),
``__lsn`` (monotone WAL position), ``__source_ts_ms``
(``/root/reference/README.md:65-68``; stripped via FIELDS_TO_REMOVE at
``datalake/main.py:50`` and filtered on op at ``parser/main.py:15-16``,
``datalake/main.py:214``) — over the tokenized-sequence payload mandated by
BASELINE.json input_hint: ``doc_id:string, tokens:array<int32>, n_tok:int32,
source:string``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

OP_COL = "op"
LSN_COL = "lsn"
TS_COL = "ts_ms"
KEY_COLS = ["doc_id"]

# name of the per-micro-batch delivery counters (events, min_lsn, max_lsn)
# a CDC stream observes on its source scan (cdc/stream.py) and the metrics
# recorder reads from each progress event (streaming/observability.py)
DELIVERY_OBSERVATION = "delivery"

# Debezium op codes: c=create, r=snapshot-read, u=update, d=delete.
# Priority breaks exact (lsn, ts_ms) ties deterministically: a delete beats
# an update beats a read beats a create at the same position, so replay
# order never changes the outcome.
OP_PRIORITY = {"c": 0, "r": 1, "u": 2, "d": 3}

CDC_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(OP_COL, T.StringType(), False),
        T.StructField(LSN_COL, T.LongType(), False),
        T.StructField(TS_COL, T.LongType(), True),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

# mid-stream additive evolution: the last ~40% of the log carries extra_meta
# (reference analog: ALTER TABLE ... ADD COLUMN IF NOT EXISTS,
# parser/createdb.sql:93,114-121).
CDC_EVENT_SCHEMA_EVOLVED = T.StructType(
    list(CDC_EVENT_SCHEMA.fields) + [T.StructField("extra_meta", T.StringType(), True)]
)

# target table: payload + envelope-of-winning-event (doc_id is the PK;
# op/lsn/ts_ms record the last applied change for LWW guards).
SEQUENCES_SCHEMA = CDC_EVENT_SCHEMA_EVOLVED


def is_cdc_schema(schema: T.StructType) -> bool:
    """The ONE "this table holds CDC state" rule: BOTH envelope columns
    (op AND lsn) present.  Requiring the pair, not just an ``op`` column,
    keeps a non-CDC table that merely has a column named ``op`` (opcode
    data, say) from being silently tombstone-filtered by surfaces that
    default to the live-state view."""
    names = set(schema.fieldNames())
    return OP_COL in names and LSN_COL in names


def op_priority_expr(op: Column | None = None) -> Column:
    op = F.col(OP_COL) if op is None else op
    expr = F.lit(0)
    for code, pri in OP_PRIORITY.items():
        expr = F.when(op == F.lit(code), F.lit(pri)).otherwise(expr)
    return expr.cast("int")
