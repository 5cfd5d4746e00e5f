"""The two file writers behind the one commit step: a DataFrame (a plan)
goes through the Spark writer, a ``pyarrow.Table`` (rows already on the
driver) through the driver writer.  Written with the same rows, the two
must be indistinguishable to every reader: the same ``read()`` rows, the
same per-bucket ``DataFile`` rows and footer stats, the same change
feed."""

import datetime as dt
import json
from collections import Counter

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ton_etl_spark.lake.table import (
    DELETE,
    FEED_COL,
    INSERT,
    LakeTable,
    _local_frame,
    arrow_rows,
)

UTC = dt.timezone.utc


def _bag(df) -> Counter:
    return Counter(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                   for r in df.collect())


def _files(t: LakeTable, version: int) -> Counter:
    """Per bucket: each data file's row count and footer stats."""
    return Counter(
        (f.bucket, f.rows, json.dumps(f.stats, sort_keys=True))
        for f in t.snapshot(version).files
    )


def _assert_same(a: LakeTable, b: LakeTable):
    assert a.current_version() == b.current_version()
    for v in range(1, a.current_version() + 1):
        assert _bag(a.read(version=v)) == _bag(b.read(version=v)), f"read v{v}"
        assert _files(a, v) == _files(b, v), f"files v{v}"
        assert _bag(a.changes(v - 1, v)) == _bag(b.changes(v - 1, v)), f"changes v{v}"
    assert _bag(a.changes(0)) == _bag(b.changes(0))


def _pair(spark, tmp_path, schema, **kw):
    return (LakeTable.create(spark, str(tmp_path / "spark"), schema=schema, **kw),
            LakeTable.create(spark, str(tmp_path / "driver"), schema=schema, **kw))


def _commit(spark, a, b, fn, schema, columns):
    """Commit the same rows through both writers: ``a`` gets a plan over
    them, ``b`` the Arrow rows."""
    fn(a, _local_frame(spark, schema, columns))
    fn(b, arrow_rows(schema, columns))


def test_driver_writer_equals_spark_writer(spark, tmp_path):
    """Evolved (missing -> NULL) and int -> long widened columns, a NULL
    key, ``timestamp`` and ``timestamp_ntz`` columns in a non-UTC session,
    and a ``sort_cols`` + ``target_file_rows`` split, through ``append``
    and a feed-carrying ``overwrite_buckets``."""
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        s0 = T.StructType.fromDDL("k string, i int, ts timestamp, n timestamp_ntz, d date")
        a, b = _pair(
            spark, tmp_path, s0, key_cols=["k"], n_buckets=4, target_file_rows=2,
            sort_cols=["i"], stats_cols=["k", "i", "ts", "n", "d"], type_widening=True,
        )
        n = 12
        rows0 = [
            [None if j == 3 else f"k{j}" for j in range(n)],
            [None if j == 5 else (j * 7) % n for j in range(n)],
            [dt.datetime(2026, 3, 8, j, 30, tzinfo=UTC) for j in range(n)],
            [dt.datetime(2026, 3, 8, j, 30) for j in range(n)],
            [dt.date(2026, 1, 1 + j) for j in range(n)],
        ]
        _commit(spark, a, b, lambda t, df: t.append(df, commit_key="c0"), s0, rows0)
        # widened i (int -> long), evolved e, and d missing (NULL-filled)
        s1 = T.StructType.fromDDL("k string, i long, ts timestamp, n timestamp_ntz, e string")
        rows1 = [[f"x{j}" for j in range(5)], [100 + j for j in range(5)],
                 [dt.datetime(2025, 11, 2, 5, j, tzinfo=UTC) for j in range(5)],
                 [dt.datetime(2025, 11, 2, 1, j) for j in range(5)], ["e"] * 5]
        _commit(spark, a, b, lambda t, df: t.append(df), s1, rows1)
        assert a.current().schema["i"].dataType == T.LongType()

        # a feed-carrying bucket replacement: every stored row kept, k1
        # deleted, a new key inserted
        snap = a.current()
        stored = a.read().orderBy("i").collect()
        schema = snap.schema
        keep = [r for r in stored if r["k"] != "k1"]
        gone = [r for r in stored if r["k"] == "k1"]
        new = dict(gone[0].asDict(), k="new", i=999)
        out = ([(r.asDict(), None) for r in keep] + [(gone[0].asDict(), DELETE)]
               + [(new, None), (new, INSERT)])
        wschema = T.StructType(schema.fields + [T.StructField(FEED_COL, T.StringType())])
        cols = [[r.get(c) for r, _ in out] for c in schema.fieldNames()] + [[k for _, k in out]]
        # timestamps must be aware for Arrow: collect() returns naive local
        ts = schema.fieldNames().index("ts")
        cols[ts] = [v.astimezone(UTC) if v else v for v in cols[ts]]
        _commit(
            spark, a, b,
            lambda t, df: t.overwrite_buckets(df, list(range(4)), commit_key="ow",
                                              schema=schema, feed=True),
            wschema, cols,
        )
        _assert_same(a, b)
        assert b.current().recent_commit_keys == ["c0", "ow"]
        # the split: some bucket holds more than target_file_rows rows
        assert max(Counter(f.bucket for f in b.current().files).values()) > 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_driver_writer_zero_rows_commits_only_the_key(spark, tmp_path):
    s = T.StructType.fromDDL("k string, v long")
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=s, key_cols=["k"], n_buckets=4)
    assert t.append(arrow_rows(s), commit_key="empty")
    assert not t.append(arrow_rows(s), commit_key="empty")
    snap = t.current()
    assert snap.version == 1 and snap.files == [] and snap.feed == []
    assert snap.recent_commit_keys == ["empty"]


def test_driver_writer_refuses_bloom_tables(spark, tmp_path):
    s = T.StructType.fromDDL("k string, v long")
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=s, key_cols=["k"],
                         n_buckets=4, bloom_cols=["k"])
    with pytest.raises(ValueError, match="bloom_cols"):
        t.append(arrow_rows(s, [["a"], [1]]))
    assert t.current_version() == 0
    t.append(_local_frame(spark, s, [["a"], [1]]))  # a plan: the Spark writer
    assert [tuple(r) for r in t.read().collect()] == [("a", 1)]


def test_driver_commits_run_no_spark_job(spark, tmp_path):
    """A lineage append and a metrics-recorder row start no Spark job."""
    from ton_etl_spark.cdc.apply import LINEAGE_SCHEMA, make_lineage_table
    from ton_etl_spark.streaming.observability import MetricsRecorder

    lineage = make_lineage_table(spark, str(tmp_path / "lin"))
    rec = MetricsRecorder(spark, str(tmp_path / "metrics"))
    progress = {"id": "q", "runId": "run-0001", "batchId": 7,
                "timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 3,
                "durationMs": {"triggerExecution": 10, "addBatch": 5}}
    rows = arrow_rows(T.StructType.fromDDL(LINEAGE_SCHEMA),
                      [[1, 1], [0, 1], [5, 9], [8, 12], [2, 2], [-3, 4]])
    sc = spark.sparkContext
    sc.setJobGroup("driver_commits", "counting driver-writer jobs", True)
    try:
        assert lineage.append(rows, commit_key="epoch=1")
        rec._record(progress)
        assert sc.statusTracker().getJobIdsForGroup("driver_commits") == []
    finally:
        sc.setJobGroup("", "")
    assert rec.rows_written == 1 and not rec.errors
    got = rec.table.read().collect()
    assert [(r["run_id"], r["batch_id"], r["add_batch_ms"], r["events"]) for r in got] == [
        ("run-0001", 7, 5, None)]
    assert sorted(tuple(r) for r in lineage.read().collect()) == [
        (1, 0, 5, 8, 2, -3), (1, 1, 9, 12, 2, 4)]


def test_arrow_conform_widens_and_fills(spark, tmp_path):
    """Driver rows in an older, narrower schema are conformed like a plan."""
    s = T.StructType.fromDDL("k string, v long, w string")
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=s, key_cols=["k"], n_buckets=2,
                         type_widening=True)
    t.append(pa.table({"k": ["a", None], "v": pa.array([1, 2], pa.int32())}))
    assert sorted((tuple(r) for r in t.read().collect()), key=repr) == [
        ("a", 1, None), (None, 2, None)]
    assert t.current().schema == s


@pytest.mark.parametrize("name", ["__bucket", "__change"])
def test_reserved_column_names_are_refused(spark, tmp_path, name):
    """The writer's own columns (``__bucket``, ``__change``) can be no
    data column: a ``__bucket`` column would read back NULL and a
    ``__change`` column would turn every appended row into a feed row.
    ``create`` refuses them, and so does every schema evolution — an
    append (plan or Arrow rows), a merge and a catalog sync — before
    anything is written."""
    from ton_etl_spark.cdc.apply import make_sequences_table
    from ton_etl_spark.cdc.generator import generate_cdc_log
    from ton_etl_spark.lake.catalog import sync_table_from_catalog
    from ton_etl_spark.lake.merge import merge_lww

    s = T.StructType.fromDDL("k string, v long")
    wide = T.StructType(s.fields + [T.StructField(name, T.IntegerType())])
    with pytest.raises(ValueError, match="reserved"):
        LakeTable.create(spark, str(tmp_path / "c"), schema=wide, key_cols=["k"])
    assert not (tmp_path / "c").exists()
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=s, key_cols=["k"], n_buckets=4)
    with pytest.raises(ValueError, match="reserved"):
        t.append(_local_frame(spark, wide, [["a"], [1], [0]]))
    with pytest.raises(ValueError, match="reserved"):
        t.append(arrow_rows(wide, [["a"], [1], [0]]))
    assert t.current_version() == 0

    m = make_sequences_table(spark, str(tmp_path / "m"), n_buckets=4)
    with pytest.raises(ValueError, match="reserved"):
        merge_lww(m, generate_cdc_log(spark, 20, seed=3).withColumn(name, F.lit(1)))
    assert m.current_version() == 0

    cols = [{"column_name": "k", "data_type": "text", "ordinal_position": 1}]
    c, _ = sync_table_from_catalog(spark, str(tmp_path / "s"), cols, key_cols=["k"])
    grown = cols + [{"column_name": name, "data_type": "integer", "ordinal_position": 2}]
    with pytest.raises(ValueError, match="reserved"):
        sync_table_from_catalog(spark, c.root, grown, key_cols=["k"])
    assert c.current_version() == 0
