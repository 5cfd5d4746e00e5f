"""External-engine interchange: symlink manifest + Hive DDL + DuckDB view.

The export must be SNAPSHOT-consistent — the lake's data directory also
holds orphaned files from past versions and CAS losers, so the tests
deliberately create orphans (via overwrites) and assert the export reads
the current snapshot, not the directory glob.  The DuckDB leg executes
for real: the exported view's rows must equal the engine's own
``read()`` / ``read_state()``.
"""

import glob
import os

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from ton_etl_spark.cdc.apply import apply_cdc_batch, make_sequences_table, read_state
from ton_etl_spark.cdc.generator import generate_cdc_log
from ton_etl_spark.lake.ddl import (
    current_file_paths,
    duckdb_view_sql,
    hive_ddl,
    write_symlink_manifest,
)
from ton_etl_spark.lake.table import DATA_DIR, LakeTable


def _spark_pdf(df, order_cols=None) -> pd.DataFrame:
    pdf = df.toPandas()
    order_cols = order_cols or list(pdf.columns)
    return pdf.sort_values(order_cols).reset_index(drop=True)


def _duck_pdf(sql: str, view: str, order_cols) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(sql)
    pdf = con.execute(f"SELECT * FROM {view}").fetchdf()
    return pdf.sort_values(order_cols).reset_index(drop=True)


def test_duckdb_view_reads_snapshot_not_directory(spark, tmp_path):
    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "x"), schema=schema,
                         key_cols=["k"], n_buckets=2)
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(10)], schema))
    # orphan the first commit's files in bucket 0+1 via a full overwrite
    t.overwrite_buckets(
        t.read().withColumn("v", F.col("v") + 100), [0, 1], commit_key="rw", feed=False,
    )
    on_disk = glob.glob(os.path.join(t.root, DATA_DIR, "**", "*.parquet"),
                        recursive=True)
    current = current_file_paths(t)
    assert set(current) < set(os.path.abspath(p) for p in on_disk), \
        "test needs real orphans on disk"

    got = _duck_pdf(duckdb_view_sql(t, "vx"), "vx", ["k"])
    want = _spark_pdf(t.read())
    pd.testing.assert_frame_equal(
        got[["k", "v"]].astype(str), want[["k", "v"]].astype(str)
    )
    # a directory glob would have doubled the rows
    assert len(got) == 10 and all(got["v"] >= 100)


def test_duckdb_state_view_matches_read_state_with_evolution(spark, tmp_path):
    """CDC table with tombstones + mid-stream additive evolution: the
    state export equals read_state row-for-row (union_by_name gives NULL
    for pre-evolution files, same as the engine read path)."""
    log = generate_cdc_log(spark, 1500, seed=11)
    t = make_sequences_table(spark, str(tmp_path / "seq"), n_buckets=4)
    half = log.where(F.col("lsn") % 2 == 0)
    apply_cdc_batch(t, half, epoch=0)
    evolved = log.where(F.col("lsn") % 2 == 1).withColumn(
        "extra", F.concat(F.lit("e-"), F.col("doc_id"))
    )
    apply_cdc_batch(t, evolved, epoch=1)

    sql = duckdb_view_sql(t, "vstate", state=True)
    got = _duck_pdf(sql, "vstate", ["doc_id"])
    want = _spark_pdf(read_state(t), ["doc_id"])
    assert list(got.columns) == list(want.columns)
    # token arrays come back as numpy arrays; compare via string repr of lists
    for c in want.columns:
        pd.testing.assert_series_equal(
            got[c].map(lambda x: str(list(x)) if hasattr(x, "__len__") and not isinstance(x, str) else str(x)),
            want[c].map(lambda x: str(list(x)) if hasattr(x, "__len__") and not isinstance(x, str) else str(x)),
            check_names=False,
        )
    # raw view keeps tombstones; state view drops them
    raw = _duck_pdf(duckdb_view_sql(t, "vraw"), "vraw", ["doc_id"])
    assert (raw["op"] == "d").any()
    assert not (got["op"] == "d").any()


def test_state_exports_keep_op_column_of_non_cdc_table(spark, tmp_path):
    """A table with an ``op`` column but no ``lsn`` is not CDC state (the
    engine's one rule, ``is_cdc_schema``): ``state=True`` exports add no
    tombstone filter, so the DuckDB view keeps its ``op='d'`` rows and the
    Hive DDL declares no state view."""
    schema = spark.createDataFrame([], "k string, op string").schema
    t = LakeTable.create(spark, str(tmp_path / "ops"), schema=schema,
                         key_cols=["k"], n_buckets=2)
    t.append(spark.createDataFrame([("a", "d"), ("b", "add"), ("c", "d")], schema))
    got = _duck_pdf(duckdb_view_sql(t, "vops", state=True), "vops", ["k"])
    assert list(got["op"]) == ["d", "add", "d"]
    ddl = hive_ddl(t, "ops", "s3://bucket/exports/ops", state=True)
    assert "CREATE VIEW" not in ddl and "<> 'd'" not in ddl


def test_symlink_manifest_and_hive_ddl(spark, tmp_path):
    log = generate_cdc_log(spark, 400, seed=5)
    t = make_sequences_table(spark, str(tmp_path / "m"), n_buckets=2)
    apply_cdc_batch(t, log, epoch=0)
    out = str(tmp_path / "export")
    mpath = write_symlink_manifest(t, out)
    listed = [l for l in open(mpath).read().splitlines() if l]
    assert listed == current_file_paths(t)
    assert all(os.path.isfile(p) for p in listed)

    ddl = hive_ddl(t, "sequences", "s3://bucket/exports/sequences", state=True)
    assert "CREATE EXTERNAL TABLE `sequences`" in ddl
    assert "`tokens` array<int>" in ddl
    assert "`n_tok` int" in ddl or "`n_tok` bigint" in ddl
    assert "SymlinkTextInputFormat" in ddl
    assert "'lake.snapshot.version'" in ddl
    assert "CREATE VIEW `sequences_state`" in ddl and "<> 'd'" in ddl

    # refresh after another commit picks up the new snapshot atomically
    apply_cdc_batch(t, generate_cdc_log(spark, 100, seed=6), epoch=1)
    write_symlink_manifest(t, out)
    relisted = [l for l in open(mpath).read().splitlines() if l]
    assert relisted == current_file_paths(t) and relisted != listed


def test_stream_keeps_export_in_lockstep(spark, tmp_path):
    """`start_cdc_stream(export_dir=…)` refreshes the symlink manifest
    after every commit: at stream end the export names exactly the final
    snapshot's files, and a DuckDB reader of the export sees the same
    state as the engine."""
    from ton_etl_spark.cdc.generator import write_cdc_log
    from ton_etl_spark.cdc.stream import run_stream_to_completion

    log_root = str(tmp_path / "log")
    write_cdc_log(generate_cdc_log(spark, 1200, seed=9), log_root,
                  n_batches=3, dup_pct=5, seed=9)
    out = str(tmp_path / "export")
    t = run_stream_to_completion(
        spark,
        os.path.join(log_root, "phase=*/__seq=*"),
        str(tmp_path / "tbl"),
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        export_dir=out,
    )
    listed = [l for l in open(os.path.join(out, "manifest")).read().splitlines() if l]
    assert listed == current_file_paths(t)
    con = duckdb.connect()
    con.execute(duckdb_view_sql(t, "vs", state=True))
    assert con.execute("SELECT count(*) FROM vs").fetchone()[0] == read_state(t).count()


def test_duckdb_view_unifies_widened_files(spark, tmp_path):
    """Type-widened table = int32 files and int64 files side by side; the
    exported view must read both with exact values (union_by_name unifies
    numeric widths the same way the engine's widened read schema does)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
    ])
    t = LakeTable.create(spark, str(tmp_path / "w"), schema=schema,
                         key_cols=["doc_id"], n_buckets=2, type_widening=True)
    t.append(spark.createDataFrame([("a", [1, 2], 2)], schema))
    wide = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.LongType())),
        T.StructField("n_tok", T.LongType()),
    ])
    big = 2**40
    t.append(spark.createDataFrame([("b", [big], 1)], wide))

    got = _duck_pdf(duckdb_view_sql(t, "vw"), "vw", ["doc_id"])
    assert [list(x) for x in got["tokens"]] == [[1, 2], [big]]
    assert list(got["n_tok"]) == [2, 1]
    # engine read agrees (same files, widened snapshot schema)
    want = _spark_pdf(t.read(), ["doc_id"])
    assert [list(x) for x in want["tokens"]] == [[1, 2], [big]]
