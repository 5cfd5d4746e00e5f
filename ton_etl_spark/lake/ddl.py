"""External-engine interchange for LakeTable: expose the CURRENT snapshot
to Athena/Hive/Trino and DuckDB without this engine in the loop.

The reference publishes its lake to Athena as external tables over the
object-store layout (``datalake/athena_ddl.sql``, generated from the live
catalog by ``datalake/generate_schema.py``).  A LakeTable cannot be
exposed with a bare ``LOCATION <dir>`` the same way: its data directory
also holds files from PAST versions and CAS-losing writers (orphans until
``expire_snapshots`` collects them), so a directory-glob external table
would read phantom rows.  The portable answer — the same one Delta Lake
ships for Presto/Athena interop — is a **symlink manifest**: a text file
listing exactly the current snapshot's data files, consumed via Hive's
``SymlinkTextInputFormat``.  Readers get snapshot-consistent data from
plain Hive DDL; refreshing the export is rewriting one small text file.

Three artifacts, all derived from one snapshot so they never disagree:

- ``write_symlink_manifest`` — the file list (refresh after each commit
  you want published; atomic rename, so readers see old or new, never
  half).
- ``hive_ddl`` — ``CREATE EXTERNAL TABLE`` DDL over that manifest
  (Athena/Hive/Trino-compatible types, Parquet SerDe).
- ``duckdb_view_sql`` — the same export as a DuckDB ``CREATE VIEW`` over
  an explicit ``read_parquet`` file list (``union_by_name`` absorbs
  additive schema evolution across commits), which is also how this
  module is tested end-to-end in-sandbox.

State vs raw: CDC tables retain delete tombstones (``op = 'd'``) so
redeliveries cannot resurrect dropped keys (lake/merge.py).  External
readers usually want live STATE, so exports take ``state=True`` to append
the tombstone filter — the exported view then matches ``read_state``.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    from ton_etl_spark.lake.table import LakeTable

MANIFEST_NAME = "manifest"


def _hive_type(dt: T.DataType) -> str:
    """Spark type -> Hive/Athena DDL type (recursive for nested types)."""
    simple = {
        T.StringType: "string",
        T.BooleanType: "boolean",
        T.ByteType: "tinyint",
        T.ShortType: "smallint",
        T.IntegerType: "int",
        T.LongType: "bigint",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.DateType: "date",
        T.TimestampType: "timestamp",
        T.BinaryType: "binary",
    }
    for cls, name in simple.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"array<{_hive_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_hive_type(dt.keyType)},{_hive_type(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{_hive_type(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    raise ValueError(f"no Hive mapping for Spark type {dt.simpleString()}")


def current_file_paths(table: "LakeTable", version: int | None = None) -> list[str]:
    """Absolute paths of the snapshot's data files, deterministic order."""
    snap = table.current() if version is None else table.snapshot(version)
    return sorted(os.path.join(table.root, f.path) for f in snap.files)


def write_symlink_manifest(
    table: "LakeTable", out_dir: str, version: int | None = None
) -> str:
    """Write the snapshot's file list as a Delta-style symlink manifest
    (one absolute path per line) under ``out_dir`` and return its path.
    Atomic replace: concurrent readers see the old or the new export,
    never a truncated one.  On S3 the same bytes go under the DDL's
    LOCATION prefix."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, MANIFEST_NAME)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write("\n".join(current_file_paths(table, version)) + "\n")
    os.replace(tmp, path)
    return path


def hive_ddl(
    table: "LakeTable",
    table_name: str,
    manifest_location: str,
    state: bool = False,
) -> str:
    """``CREATE EXTERNAL TABLE`` DDL (Athena/Hive) reading the symlink
    manifest at ``manifest_location``.  With ``state=True`` the tombstone
    column is dropped from the projection contract note — Hive DDL cannot
    embed a row filter, so state filtering for Hive readers is documented
    in the emitted comment and enforced by querying the companion view
    (`CREATE VIEW ... WHERE op <> 'd'`) appended after the table DDL."""
    snap = table.current()
    cols = ",\n".join(
        f"  `{f.name}` {_hive_type(f.dataType)}" for f in snap.schema.fields
    )
    ddl = (
        f"CREATE EXTERNAL TABLE `{table_name}`(\n{cols})\n"
        "ROW FORMAT SERDE\n"
        "  'org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe'\n"
        "STORED AS INPUTFORMAT\n"
        "  'org.apache.hadoop.hive.ql.io.SymlinkTextInputFormat'\n"
        "OUTPUTFORMAT\n"
        "  'org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat'\n"
        f"LOCATION\n  '{manifest_location}'\n"
        "TBLPROPERTIES (\n"
        f"  'lake.snapshot.version'='{snap.version}',\n"
        f"  'lake.n_buckets'='{snap.n_buckets}',\n"
        f"  'lake.key_cols'='{','.join(snap.key_cols)}')"
    )
    if state and _op_col(snap) is not None:
        op = _op_col(snap)
        ddl += (
            f";\n\nCREATE VIEW `{table_name}_state` AS\n"
            f"SELECT * FROM `{table_name}` WHERE `{op}` <> 'd'"
        )
    return ddl


def _op_col(snap) -> str | None:
    """The tombstone column of a CDC table (``is_cdc_schema``, the engine's
    one CDC rule: ``op`` AND ``lsn``); None for any other table, even one
    with an ``op`` column."""
    from ton_etl_spark.cdc.schema import OP_COL, is_cdc_schema

    return OP_COL if is_cdc_schema(snap.schema) else None


def duckdb_view_sql(
    table: "LakeTable",
    view_name: str,
    state: bool = False,
    version: int | None = None,
) -> str:
    """DuckDB ``CREATE OR REPLACE VIEW`` over the snapshot's explicit file
    list.  ``union_by_name`` absorbs additive schema evolution (older
    files simply yield NULL for later columns — the same contract as the
    engine's own read path).  ``state=True`` appends the tombstone filter
    so the view equals ``read_state``."""
    files = current_file_paths(table, version)
    if not files:
        raise ValueError(f"table {table.root} has no data files to export")
    file_list = ", ".join("'" + p.replace("'", "''") + "'" for p in files)
    snap = table.current() if version is None else table.snapshot(version)
    # project the SNAPSHOT schema, not `*`: the physical files carry engine
    # internals (the `__bucket` partition column) that the read path drops
    cols = ", ".join(f'"{f.name}"' for f in snap.schema.fields)
    where = ""
    if state and _op_col(snap) is not None:
        # `op <> 'd'` (NULL-dropping), matching read_state's `op != 'd'`
        where = f" WHERE \"{_op_col(snap)}\" <> 'd'"
    return (
        f"CREATE OR REPLACE VIEW {view_name} AS "
        f"SELECT {cols} FROM read_parquet([{file_list}], union_by_name=true){where}"
    )
