"""Catalog-driven CDC streaming: the routing map IS the catalog.

The stream polls a catalog provider before every micro-batch and converges
each sink onto it — a new source table appearing in the catalog is
auto-provisioned and starts flowing within one trigger (the streaming end of
the reference's catalog auto-create, datalake/datalake_daily_sync.py:268-296
and metadata_snapshot.py:44-79), and a column the catalog grew mid-stream is
published by additive evolution and decoded from that batch onward.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ton_etl_spark.cdc.apply import final_state_oracle, read_state
from ton_etl_spark.cdc.envelope import to_kafka_frames
from ton_etl_spark.cdc.generator import generate_cdc_log
from ton_etl_spark.cdc.stream import start_cdc_catalog_stream
from ton_etl_spark.lake.catalog import catalog_to_cdc_payload_schema
from ton_etl_spark.lake.table import LakeTable

SEQ_CATALOG = [
    {"column_name": "doc_id", "data_type": "text", "ordinal_position": 1},
    {"column_name": "body", "data_type": "text", "ordinal_position": 2},
    {"column_name": "source", "data_type": "text", "ordinal_position": 3},
]

META_CATALOG = [
    {"column_name": "doc_id", "data_type": "text", "ordinal_position": 1},
    {"column_name": "symbol", "data_type": "character varying", "ordinal_position": 2},
    {"column_name": "decimals", "data_type": "bigint", "ordinal_position": 3},
]


def _flat_log(spark, n, seed, schema, make_row):
    rows = [make_row(i, seed) for i in range(n)]
    return spark.createDataFrame(rows, schema=schema)


def _seq_row(i, seed):
    key = f"d{(i * 7 + seed) % 50}"
    op = "d" if i % 19 == 0 else ("u" if i % 3 == 0 else "c")
    body = None if op == "d" else f"text-{seed}-{i}"
    return (key, op, i + 1, i + 1, body, "web")


def _meta_row(i, seed):
    key = f"m{(i * 5 + seed) % 30}"
    op = "d" if i % 13 == 0 else ("u" if i % 4 == 0 else "c")
    sym = None if op == "d" else f"SYM{i}"
    dec = None if op == "d" else i % 9
    return (key, op, i + 1, i + 1, sym, dec)


SEQ_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("symbol", T.StringType(), True),
        T.StructField("decimals", T.LongType(), True),
    ]
)


def _rows(df, order="doc_id"):
    return [r.asDict() for r in df.orderBy(order, "lsn").collect()]


def test_catalog_cdc_payload_schema_appends_envelope():
    s = catalog_to_cdc_payload_schema(SEQ_CATALOG)
    assert [f.name for f in s.fields] == ["doc_id", "body", "source", "op", "lsn", "ts_ms"]
    # a catalog that already names an envelope column keeps its position
    pre = [{"column_name": "lsn", "data_type": "bigint", "ordinal_position": 1}]
    s2 = catalog_to_cdc_payload_schema(pre)
    assert [f.name for f in s2.fields] == ["lsn", "op", "ts_ms"]


def test_new_catalog_table_provisions_mid_stream(spark, tmp_path):
    """Three micro-batches; the provider returns only ``seq`` on the first
    poll and {seq, tok_meta} afterwards.  tok_meta must be created
    mid-stream (its first commit is epoch 1, not 0) and both tables end
    equal to their full-log LWW oracles.  With ``maintenance_every=3`` the
    last batch is a maintenance epoch for both sinks: each compacts bucket
    group 0 and its lineage table whole."""
    log_seq = _flat_log(spark, 600, 3, SEQ_SCHEMA, _seq_row)
    log_meta = _flat_log(spark, 300, 5, META_SCHEMA, _meta_row)

    frames_dir = str(tmp_path / "frames")
    thirds = [log_seq.where(F.col("lsn") % 3 == k) for k in range(3)]
    for i in range(3):
        f = to_kafka_frames(thirds[i], table="seq")
        if i > 0:  # tok_meta events only exist from the second file onward
            f = f.unionByName(
                to_kafka_frames(log_meta.where(F.col("lsn") % 2 == i % 2), table="tok_meta")
            )
        f.coalesce(1).write.parquet(os.path.join(frames_dir, f"b{i}"))

    calls = {"n": 0}

    def provider():
        calls["n"] += 1
        if calls["n"] == 1:
            return {"seq": SEQ_CATALOG}
        return {"seq": SEQ_CATALOG, "tok_meta": META_CATALOG}

    q = start_cdc_catalog_stream(
        spark,
        frames_glob=os.path.join(frames_dir, "*"),
        catalog_provider=provider,
        tables_dir=str(tmp_path / "tables"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        lineage_dir=str(tmp_path / "lineage"),
        max_files_per_trigger=1,
        maintenance_every=3,
    )
    q.awaitTermination()
    assert calls["n"] == 3  # one poll per micro-batch

    t_seq = LakeTable.load(spark, str(tmp_path / "tables" / "seq"))
    assert _rows(read_state(t_seq)) == _rows(final_state_oracle(log_seq))

    t_meta = LakeTable.load(spark, str(tmp_path / "tables" / "tok_meta"))
    assert t_meta.has_commit("epoch=1")
    assert _rows(read_state(t_meta)) == _rows(final_state_oracle(log_meta))
    # provisioned mid-stream: per-sink lineage starts at epoch 1, not 0
    # (has_commit("epoch=0") is watermark-covered by design, so the lineage
    # rows are the proof no epoch-0 apply ran)
    lin = LakeTable.load(spark, str(tmp_path / "lineage" / "tok_meta")).read()
    assert {r["checkpoint_epoch"] for r in lin.collect()} == {1, 2}

    # batch 2 is the maintenance epoch: rolling group 0 (buckets b % 4 == 0,
    # which hold files at these key counts) on each sink, and a whole-table
    # compaction of each lineage table
    for name in ("seq", "tok_meta"):
        t = LakeTable.load(spark, str(tmp_path / "tables" / name))
        assert any(f.bucket % 4 == 0 for f in t.current().files), name
        assert t.has_commit("roll=2-g0"), name
        lin_t = LakeTable.load(spark, str(tmp_path / "lineage" / name))
        assert lin_t.has_commit("roll=2-g0"), name
        buckets = [f.bucket for f in lin_t.current().files]
        assert buckets and len(buckets) == len(set(buckets)), (name, buckets)


def test_catalog_column_growth_evolves_sink_mid_stream(spark, tmp_path):
    """The catalog grows a column between the first and second run (the
    reference's daily-sync cadence): the sink schema evolves additively,
    pre-evolution rows read null, post-evolution frames decode the new
    column, and LWW holds across the boundary."""
    grown_catalog = SEQ_CATALOG + [
        {"column_name": "lang", "data_type": "text", "ordinal_position": 4}
    ]
    grown_schema = T.StructType(
        list(SEQ_SCHEMA.fields) + [T.StructField("lang", T.StringType(), True)]
    )

    phase1 = _flat_log(spark, 400, 9, SEQ_SCHEMA, _seq_row)
    rows2 = [(*_seq_row(i, 9), None if i % 19 == 0 else "en") for i in range(400, 700)]
    phase2 = spark.createDataFrame(rows2, schema=grown_schema)

    frames_dir = str(tmp_path / "frames")
    to_kafka_frames(phase1, table="seq").coalesce(1).write.parquet(
        os.path.join(frames_dir, "b0")
    )

    kw = dict(
        frames_glob=os.path.join(frames_dir, "*"),
        tables_dir=str(tmp_path / "tables"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q = start_cdc_catalog_stream(spark, catalog_provider=lambda: {"seq": SEQ_CATALOG}, **kw)
    q.awaitTermination()
    root = str(tmp_path / "tables" / "seq")
    assert "lang" not in LakeTable.load(spark, root).current().schema.fieldNames()

    to_kafka_frames(phase2, table="seq").coalesce(1).write.parquet(
        os.path.join(frames_dir, "b1")
    )
    q2 = start_cdc_catalog_stream(
        spark, catalog_provider=lambda: {"seq": grown_catalog}, **kw
    )
    q2.awaitTermination()

    t = LakeTable.load(spark, root)
    assert "lang" in t.current().schema.fieldNames()
    got = _rows(read_state(t))
    full = phase1.withColumn("lang", F.lit(None).cast("string")).unionByName(phase2)
    want = _rows(final_state_oracle(full))
    assert got == want
    # docs last written in phase 2 carry the new column's value
    assert any(r["lang"] == "en" for r in got)


def test_catalog_type_change_fails_loudly_before_commit(spark, tmp_path):
    """A type change is the one evolution the additive contract cannot
    absorb: the sync raises inside the first micro-batch and the stream
    surfaces it — no partial commit of a broken schema."""
    frames_dir = str(tmp_path / "frames")
    log = _flat_log(spark, 50, 1, SEQ_SCHEMA, _seq_row)
    to_kafka_frames(log, table="seq").coalesce(1).write.parquet(
        os.path.join(frames_dir, "b0")
    )
    kw = dict(
        frames_glob=os.path.join(frames_dir, "*"),
        tables_dir=str(tmp_path / "tables"),
    )
    q = start_cdc_catalog_stream(
        spark, catalog_provider=lambda: {"seq": SEQ_CATALOG},
        checkpoint_dir=str(tmp_path / "ck1"), **kw,
    )
    q.awaitTermination()
    v0 = LakeTable.load(spark, str(tmp_path / "tables" / "seq")).current_version()

    retyped = [dict(c) for c in SEQ_CATALOG]
    retyped[1]["data_type"] = "bigint"  # body: text -> bigint
    to_kafka_frames(log, table="seq").coalesce(1).write.parquet(
        os.path.join(frames_dir, "b1")
    )
    q2 = start_cdc_catalog_stream(
        spark, catalog_provider=lambda: {"seq": retyped},
        checkpoint_dir=str(tmp_path / "ck1"), **kw,
    )
    with pytest.raises(Exception, match="incompatible catalog evolution"):
        q2.awaitTermination()
    # nothing was committed under the bad catalog
    assert (
        LakeTable.load(spark, str(tmp_path / "tables" / "seq")).current_version() == v0
    )


def test_catalog_type_promotion_converges_mid_stream(spark, tmp_path):
    """The catalog widens a column (integer -> bigint) between micro-batches
    and the very next frames carry values beyond int32.  With sinks opted
    into type_widening (table_kwargs), the sync publishes the wide schema
    BEFORE the batch decodes, so those frames parse against bigint and LWW
    holds across the boundary — final state equals the full-log oracle with
    exact values."""
    num_catalog_int = [
        {"column_name": "doc_id", "data_type": "text", "ordinal_position": 1},
        {"column_name": "n", "data_type": "integer", "ordinal_position": 2},
    ]
    num_catalog_big = [dict(c) for c in num_catalog_int]
    num_catalog_big[1]["data_type"] = "bigint"

    sch_int = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("lsn", T.LongType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("n", T.IntegerType()),
    ])
    sch_long = T.StructType(sch_int.fields[:-1] + [T.StructField("n", T.LongType())])

    log0 = spark.createDataFrame(
        [(f"d{i % 20}", "c", i + 1, i + 1, i * 100) for i in range(60)], sch_int
    )
    big = 2**40
    log1 = spark.createDataFrame(
        [(f"d{i % 20}", "u", 61 + i, 61 + i, big + i) for i in range(30)], sch_long
    )
    frames_dir = str(tmp_path / "frames")
    to_kafka_frames(log0, table="nums").coalesce(1).write.parquet(
        os.path.join(frames_dir, "b0")
    )
    to_kafka_frames(log1, table="nums").coalesce(1).write.parquet(
        os.path.join(frames_dir, "b1")
    )

    calls = {"n": 0}

    def provider():
        calls["n"] += 1
        return {"nums": num_catalog_int if calls["n"] == 1 else num_catalog_big}

    q = start_cdc_catalog_stream(
        spark,
        frames_glob=os.path.join(frames_dir, "*"),
        catalog_provider=provider,
        tables_dir=str(tmp_path / "tables"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        table_kwargs={"type_widening": True},
    )
    q.awaitTermination()

    t = LakeTable.load(spark, str(tmp_path / "tables" / "nums"))
    assert t.current().schema["n"].dataType.simpleString() == "bigint"
    full_log = log0.withColumn("n", F.col("n").cast("long")).unionByName(log1)
    got = _rows(read_state(t))
    want = _rows(final_state_oracle(full_log))
    assert got == want
    # the post-widen winners carry exact >int32 values
    assert all(r["n"] >= big for r in got if r["lsn"] > 60)
    assert any(r["n"] >= big for r in got)
