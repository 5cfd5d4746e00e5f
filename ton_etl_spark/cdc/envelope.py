"""Debezium/Kafka envelope front door.

The reference's ingestion edge is a Kafka consumer that JSON-decodes each
message into a flat object carrying payload fields plus Debezium meta fields
``__op`` / ``__table`` / ``__lsn`` / ``__source_ts_ms``, filters on op,
routes on ``__table``, and strips the meta fields before converting
(``/root/reference/datalake/main.py:50,212-221`` FIELDS_TO_REMOVE;
``/root/reference/parser/main.py:85-143`` consumer loop with manual commit).

This module is the Spark-first equivalent: ``from_json`` over the Kafka
``value`` column with an explicit envelope schema — one JVM-side expression,
whole-stage codegen, no Python in the hot path.  The same transformation
works on a batch DataFrame, a ``readStream.format("kafka")`` source, and the
file streams of identically-shaped frames the tests use (the Kafka connector
jar is not loadable in this sandbox; the frame schema below matches the
connector's output column-for-column, so swapping the source is a one-line
change).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ton_etl_spark.cdc.schema import (
    CDC_EVENT_SCHEMA_EVOLVED,
    LSN_COL,
    OP_COL,
    TS_COL,
)

# column-for-column the schema of spark's kafka source output rows
KAFKA_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
    ]
)

# parity with the reference's FIELDS_TO_REMOVE (datalake/main.py:50)
ENVELOPE_META_FIELDS = ["__op", "__table", "__lsn", "__source_ts_ms"]

# routing column: ``__table`` extracted from the raw frame so ONE stream can
# fan out to N sinks — the reference's topic→parsers routing map
# (parser/parsers/__init__.py:118-132).  The decode never emits it.
ROUTE_COL = "_route_table"


def envelope_schema(payload_schema: T.StructType) -> T.StructType:
    """Flat Debezium-style JSON document schema: the payload columns (minus
    the engine's op/lsn/ts_ms, which live in the ``__``-meta fields on the
    wire) plus the meta fields themselves."""
    payload = [
        T.StructField(f.name, f.dataType, True)
        for f in payload_schema.fields
        if f.name not in (OP_COL, LSN_COL, TS_COL)
    ]
    meta = [
        T.StructField("__op", T.StringType(), True),
        T.StructField("__table", T.StringType(), True),
        T.StructField("__lsn", T.LongType(), True),
        T.StructField("__source_ts_ms", T.LongType(), True),
        # populated by from_json when the record is malformed OR any field
        # fails to convert (PERMISSIVE partial-result mode) — never emitted
        T.StructField("_corrupt_record", T.StringType(), True),
    ]
    return T.StructType(payload + meta)


def parse_cdc_envelope(
    frames: DataFrame,
    payload_schema: T.StructType | None = None,
    value_col: str = "value",
    allowed_ops: tuple[str, ...] | None = None,
) -> DataFrame:
    """Kafka-shaped frames → CDC event rows (the engine's envelope schema).

    - ``allowed_ops``: e.g. ``("c", "r")`` mirrors the reference's
      append-mart op filter (``__op == c/r``, plus ``u`` when
      ``updates_enabled`` — ``datalake/main.py:214``).  ``None`` keeps every
      op including tombstones — the keyed-table MERGE path needs deletes.

    Routing on ``__table`` (the topic→converter fan-out,
    ``datalake/main.py:213``) happens before the decode: the routed
    streams of ``cdc.stream`` extract it as :data:`ROUTE_COL` and decode
    each route's slice separately.

    The ``__``-meta fields are renamed into the engine envelope
    (op/lsn/ts_ms) and never appear in the output — the FIELDS_TO_REMOVE
    strip, done by projection instead of dict mutation.
    """
    payload_schema = payload_schema or CDC_EVENT_SCHEMA_EVOLVED
    env = envelope_schema(payload_schema)
    parsed = frames.select(
        F.from_json(
            F.col(value_col).cast("string"),
            env,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("e")
    )
    # decode-failure guard, mirroring the reference's log-and-skip of
    # messages that fail to convert (datalake/main.py:226-230).  Two cases:
    # (a) unparseable JSON / any MIS-TYPED field → from_json sets
    # _corrupt_record (PERMISSIVE partial results would otherwise half-keep
    # the row with nulled payload, which could win LWW and wipe good
    # state); (b) missing __op/__lsn → the row cannot participate in LWW
    # ordering at all.  Legitimately-absent optional payload fields (e.g.
    # tombstones without tokens) leave _corrupt_record null and pass.
    parsed = parsed.where(
        F.col("e._corrupt_record").isNull()
        & F.col("e.__op").isNotNull()
        & F.col("e.__lsn").isNotNull()
    )
    if allowed_ops is not None:
        parsed = parsed.where(F.col("e.__op").isin(list(allowed_ops)))
    rename = {
        OP_COL: "e.__op",
        LSN_COL: "e.__lsn",
        TS_COL: "e.__source_ts_ms",
    }
    cols = [
        F.col(rename[f.name]).alias(f.name)
        if f.name in rename
        else F.col(f"e.{f.name}").alias(f.name)
        for f in payload_schema.fields
    ]
    return parsed.select(*cols)


def to_kafka_frames(
    events: DataFrame,
    topic: str = "cdc.sequences",
    table: str = "sequences",
    n_partitions: int = 10,
) -> DataFrame:
    """Inverse of :func:`parse_cdc_envelope`: encode engine CDC events as
    Kafka-shaped frames (JSON value with ``__``-meta fields, key = doc key,
    partition = hash(key) % n — the reference runs 10 Kafka partitions,
    ``README.md:63``).  Used by tests and benchmarks to synthesize the wire
    format; a real deployment writes with the Kafka sink instead."""
    payload_cols = [c for c in events.columns if c not in (OP_COL, LSN_COL, TS_COL)]
    value = F.to_json(
        F.struct(
            *[F.col(c) for c in payload_cols],
            F.col(OP_COL).alias("__op"),
            F.lit(table).alias("__table"),
            F.col(LSN_COL).alias("__lsn"),
            F.col(TS_COL).alias("__source_ts_ms"),
        )
    )
    return events.select(
        F.col("doc_id").cast("binary").alias("key"),
        value.cast("binary").alias("value"),
        F.lit(topic).alias("topic"),
        F.pmod(F.xxhash64("doc_id"), F.lit(n_partitions)).cast("int").alias("partition"),
        F.col(LSN_COL).alias("offset"),
        F.timestamp_millis(F.coalesce(F.col(TS_COL), F.lit(0))).alias("timestamp"),
    )


def kafka_source(spark: SparkSession, brokers: str, topics: str) -> DataFrame:
    """The real Kafka tail: ``readStream.format("kafka")``.  Offset commits
    are owned by Spark's checkpoint (the manual-commit discipline of the
    reference consumer — ``enable.auto.commit=False`` + commit-after-flush,
    ``parser/main.py:85-120`` — maps onto checkpoint offsets + the commit
    manifest key making foreachBatch re-executions no-ops).

    Requires the spark-sql-kafka connector on the classpath; in this sandbox
    tests drive :func:`parse_cdc_envelope` through file streams of
    KAFKA_FRAME_SCHEMA-shaped frames instead (identical columns)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", "earliest")
        .load()
    )
