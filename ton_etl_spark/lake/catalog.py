"""Catalog-driven schema generation and table sync.

The reference derives its lake schemas from the LIVE source catalog rather
than hand-writing them: ``datalake/generate_schema.py:26-63`` reads
``information_schema.columns`` for one Postgres table, maps each column
through a fixed type table (varchar/char/text/jsonb -> string, bigint ->
long, integer/smallint -> int, boolean -> boolean, numeric -> double,
USER-DEFINED -> string with a warning, anything else fails loudly), wraps
nullable columns in a ``[type, "null"]`` union, and appends the CDC meta
fields ``__lsn``/``__id``; ``datalake/metadata_snapshot.py:44-79`` then
get-or-creates the target table from the source's catalog metadata when it
does not exist yet.

This module is the Spark-first equivalent over plain catalog rows (any
iterable of ``information_schema.columns``-shaped dicts — a JSON dump, a
JDBC read, a test fixture — no live database required):

- :func:`catalog_to_spark_schema` / :func:`catalog_to_avro_schema` apply
  the same type rules to produce a ``StructType`` or the reference-layout
  Avro record (interoperable with :mod:`ton_etl_spark.sources.avro`).
- :func:`sync_table_from_catalog` converges a :class:`LakeTable` onto the
  catalog: create when absent, additive evolution when the catalog grew
  columns, loud failure on type changes, a warning (never a drop) when the
  catalog lost columns — the same additive-only contract the merge path
  enforces (``lake/table.py _merge_schemas``).

Everything is driver-side metadata work on O(columns) rows; no data moves,
and the commit that publishes an evolved schema appends zero Arrow rows
(the driver writer: no Spark job, no file), so the sync is as cheap at
100 TB as at 100 KB.
"""

from __future__ import annotations

import hashlib
import json
import logging
from typing import Any, Iterable, Mapping

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ton_etl_spark.lake.table import LakeTable, _merge_schemas, _widen_type, arrow_rows

_LOG = logging.getLogger(__name__)

# information_schema data_type -> (avro primitive, spark type); the exact
# table from the reference's generate_schema.py:34-47.
_PG_STRING_TYPES = ("character varying", "character", "text", "jsonb")
_PG_TYPE_MAP: dict[str, tuple[str, T.DataType]] = {
    **{t: ("string", T.StringType()) for t in _PG_STRING_TYPES},
    "bigint": ("long", T.LongType()),
    "integer": ("int", T.IntegerType()),
    "smallint": ("int", T.IntegerType()),
    "boolean": ("boolean", T.BooleanType()),
    "numeric": ("double", T.DoubleType()),
}

# CDC meta fields Debezium's Postgres source adds; appended after the
# catalog columns exactly like generate_schema.py:57-64.
_CDC_META_FIELDS = (("__lsn", "long", T.LongType()), ("__id", "string", T.StringType()))


def _normalized_columns(
    columns: Iterable[Mapping[str, Any]], ignore_fields: Iterable[str]
) -> list[tuple[str, str, bool]]:
    """Catalog rows -> ordered [(name, avro_primitive, nullable)].

    Rows are sorted by ``ordinal_position`` when present so a dict dump and
    a JDBC read produce the same field order; unsupported types fail loudly
    naming the column (the reference raises the same way)."""
    ignore = set(ignore_fields)
    rows = list(columns)
    if all("ordinal_position" in r for r in rows):
        rows.sort(key=lambda r: int(r["ordinal_position"]))
    out: list[tuple[str, str, bool]] = []
    for r in rows:
        name = r["column_name"]
        if name in ignore:
            continue
        data_type = r["data_type"]
        if data_type == "USER-DEFINED":
            _LOG.warning("using string for column %s with user-defined type", name)
            avro = "string"
        elif data_type in _PG_TYPE_MAP:
            avro = _PG_TYPE_MAP[data_type][0]
        else:
            raise ValueError(f"type is not supported: {data_type} for column {name}")
        nullable = str(r.get("is_nullable", "YES")).upper() == "YES"
        out.append((name, avro, nullable))
    return out


_AVRO_TO_SPARK = {
    "string": T.StringType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "boolean": T.BooleanType(),
    "double": T.DoubleType(),
}


def catalog_to_spark_schema(
    columns: Iterable[Mapping[str, Any]],
    ignore_fields: Iterable[str] = (),
    cdc_meta: bool = False,
) -> T.StructType:
    """information_schema.columns rows -> StructType under the reference's
    type rules.  ``cdc_meta=True`` appends ``__lsn``/``__id``.  Catalog
    NOT-NULL is advisory only: every Spark field stays nullable because
    deletes/late columns legitimately produce nulls downstream."""
    fields = [
        T.StructField(name, _AVRO_TO_SPARK[avro], True)
        for name, avro, _ in _normalized_columns(columns, ignore_fields)
    ]
    if cdc_meta:
        fields += [T.StructField(n, dt, True) for n, _, dt in _CDC_META_FIELDS]
    return T.StructType(fields)


def catalog_to_avro_schema(
    columns: Iterable[Mapping[str, Any]],
    table_name: str,
    namespace: str = "ton",
    ignore_fields: Iterable[str] = (),
    cdc_meta: bool = True,
) -> dict:
    """information_schema.columns rows -> the Avro record the reference's
    generate_schema.py would emit for the same table: nullable columns as
    ``[type, "null"]`` unions (non-null branch first, matching its output),
    meta fields appended last.  The result parses with
    :func:`ton_etl_spark.sources.avro.parse_schema` and round-trips through
    ``write_ocf_bytes``/``read_avro``."""
    fields: list[dict] = [
        {"name": name, "type": [avro, "null"] if nullable else avro}
        for name, avro, nullable in _normalized_columns(columns, ignore_fields)
    ]
    if cdc_meta:
        fields += [{"name": n, "type": [a]} for n, a, _ in _CDC_META_FIELDS]
    return {"namespace": namespace, "type": "record", "name": table_name, "fields": fields}


def catalog_to_cdc_payload_schema(
    columns: Iterable[Mapping[str, Any]], ignore_fields: Iterable[str] = ()
) -> T.StructType:
    """Catalog rows -> the sink schema a catalog-described table uses under
    the CDC merge path: the catalog's payload columns plus the engine
    envelope (op/lsn/ts_ms), which the wire format carries in the
    ``__``-meta fields (``cdc.envelope.envelope_schema``).  Envelope names
    already present in the catalog keep their catalog position."""
    from ton_etl_spark.cdc.schema import LSN_COL, OP_COL, TS_COL

    base = catalog_to_spark_schema(columns, ignore_fields)
    have = {f.name for f in base.fields}
    env = [
        T.StructField(OP_COL, T.StringType(), True),
        T.StructField(LSN_COL, T.LongType(), True),
        T.StructField(TS_COL, T.LongType(), True),
    ]
    return T.StructType(list(base.fields) + [f for f in env if f.name not in have])


def diff_catalog_schema(
    table_schema: T.StructType,
    catalog_schema: T.StructType,
    allow_widening: bool = False,
) -> tuple[list[str], list[str], list[str]]:
    """(columns the catalog added, columns the catalog no longer has,
    columns whose type the catalog widened).  Raises on a type change the
    contract cannot absorb: any change by default; with ``allow_widening``
    (the table's ``type_widening`` property) a lossless promotion of the
    stored type is reported in ``widened`` instead, and a catalog type
    NARROWER than the stored one is a no-op (the table already holds the
    wider type; narrow source rows cast up on write).  Surfaced here
    BEFORE any commit is attempted."""
    have = {f.name: f for f in table_schema.fields}
    added, widened = [], []
    for f in catalog_schema.fields:
        if f.name not in have:
            added.append(f.name)
        elif f.dataType.simpleString() != have[f.name].dataType.simpleString():
            wide = _widen_type(have[f.name].dataType, f.dataType) if allow_widening else None
            if wide is None:
                raise ValueError(
                    f"incompatible catalog evolution for column {f.name}: "
                    f"table has {have[f.name].dataType}, catalog says {f.dataType}"
                )
            if wide.simpleString() != have[f.name].dataType.simpleString():
                widened.append(f.name)
    cat_names = {f.name for f in catalog_schema.fields}
    removed = [f.name for f in table_schema.fields if f.name not in cat_names]
    return added, removed, widened


def sync_table_from_catalog(
    spark: SparkSession,
    root: str,
    columns: Iterable[Mapping[str, Any]],
    key_cols: list[str],
    ignore_fields: Iterable[str] = (),
    cdc_meta: bool = False,
    envelope: bool = False,
    commit_key: str | None = None,
    **create_kwargs: Any,
) -> tuple[LakeTable, dict]:
    """Converge the LakeTable at ``root`` onto the catalog-described schema
    (the Spark-first form of metadata_snapshot.py's get-or-create, 44-79).

    Returns ``(table, report)`` where report is
    ``{"action": "created"|"evolved"|"noop", "added": [...],
    "missing_in_catalog": [...]}``.

    - absent table  -> created with the derived schema.
    - catalog grew  -> one metadata-only commit (a zero-row ``arrow_rows``
      append through the normal CAS/rebase path) publishes the additively merged
      schema; existing files are untouched and read back null-filled.
    - catalog shrank-> warning only; the lake keeps history the source
      dropped (additive-only, same as ``_merge_schemas``).
    - type change   -> ValueError before anything is written — unless the
      table opted into ``type_widening`` and the change is a lossless
      promotion, which commits like a growth (report key ``widened``;
      old narrow files upcast at read, no rewrite).

    The default ``commit_key`` is a digest of the catalog column list, so
    re-running the sync against an unchanged catalog — or two schedulers
    racing the same sync — is idempotent.

    ``envelope=True`` converges onto :func:`catalog_to_cdc_payload_schema`
    instead (catalog columns + op/lsn/ts_ms) — the shape a sink needs to
    participate in the LWW merge path (``cdc.stream``)."""
    if envelope:
        catalog_schema = catalog_to_cdc_payload_schema(columns, ignore_fields)
    else:
        catalog_schema = catalog_to_spark_schema(columns, ignore_fields, cdc_meta=cdc_meta)
    if not LakeTable.exists(root):
        t = LakeTable.get_or_create(
            spark, root, schema=catalog_schema, key_cols=key_cols, **create_kwargs
        )
        return t, {"action": "created", "added": [f.name for f in catalog_schema.fields],
                   "missing_in_catalog": [], "widened": []}

    t = LakeTable.load(spark, root)
    snap = t.current()
    widening = LakeTable._widening(snap)
    added, removed, widened = diff_catalog_schema(snap.schema, catalog_schema, widening)
    if removed:
        _LOG.warning(
            "catalog sync %s: columns %s no longer in catalog; kept (additive-only)",
            root, removed,
        )
    if not added and not widened:
        return t, {"action": "noop", "added": [], "missing_in_catalog": removed,
                   "widened": []}

    merged = _merge_schemas(snap.schema, catalog_schema, widening)
    if commit_key is None:
        cols_sig = json.dumps([(f.name, f.dataType.simpleString()) for f in merged.fields])
        commit_key = "catalog-sync-" + hashlib.md5(cols_sig.encode()).hexdigest()[:16]
    t.append(arrow_rows(merged), commit_key=commit_key)
    return t, {"action": "evolved", "added": added, "missing_in_catalog": removed,
               "widened": widened}
