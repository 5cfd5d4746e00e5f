"""Multi-table routing: ONE envelope stream carrying several ``__table``
values fans out to N LakeTables inside a single foreachBatch, each sink
with its own exactly-once commit manifest.

Reference parity: one consumed topic feeds several parser sinks via the
routing map (parser/parsers/__init__.py:118-132); per-sink exactly-once
comes from per-sink consumer groups, here from per-table manifests.
"""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import ton_etl_spark.cdc.stream as stream_mod
from ton_etl_spark.cdc.apply import final_state_oracle, read_full_log, read_state
from ton_etl_spark.cdc.envelope import ROUTE_COL, parse_cdc_envelope, to_kafka_frames
from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log
from ton_etl_spark.cdc.stream import start_cdc_multi_table_stream
from ton_etl_spark.lake.table import LakeTable


def _rows(df, order="doc_id"):
    return [r.asDict() for r in df.orderBy(order, "lsn").collect()]


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


def _meta_log(spark, n, lsn0=0):
    rows = [
        (f"m{i % 20}", "u" if i % 3 == 0 else "c", lsn0 + i + 1, lsn0 + i + 1, f"S{i}", i % 9)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, schema=META_SCHEMA)


def _make_two_table_frames(spark, tmp_path, n=2500, n_batches=3):
    """Two independent CDC logs (out-of-order, duplicated, mid-stream
    schema evolution) interleaved into SHARED frame files, tagged with
    different ``__table`` values."""
    dirs_a = write_cdc_log(
        generate_cdc_log(spark, n, seed=21), str(tmp_path / "log_a"),
        n_batches=n_batches, dup_pct=10, seed=21,
    )
    dirs_b = write_cdc_log(
        generate_cdc_log(spark, n, seed=22), str(tmp_path / "log_b"),
        n_batches=n_batches, dup_pct=10, seed=22,
    )
    frames_dir = str(tmp_path / "frames")
    for i, (da, db) in enumerate(zip(dirs_a, dirs_b)):
        fa = to_kafka_frames(spark.read.parquet(da), table="seq_a")
        fb = to_kafka_frames(spark.read.parquet(db), table="seq_b")
        fa.unionByName(fb).coalesce(1).write.parquet(os.path.join(frames_dir, f"b{i}"))
    return frames_dir


def test_route_col_survives_decode(spark):
    log = generate_cdc_log(spark, 200, seed=29)
    frames = to_kafka_frames(log, table="seq_a")
    # default decode strips every meta field
    assert ROUTE_COL not in parse_cdc_envelope(frames).columns


def test_multi_table_stream_replay_equality_under_crash_restart(
    spark, tmp_path, monkeypatch
):
    """One stream → two tables; a crash injected AFTER sink A committed an
    epoch but BEFORE sink B did.  On restart the micro-batch replays: A's
    merge must be a manifest no-op, B's must apply — both tables end
    byte-equal to their per-log oracles."""
    frames_dir = _make_two_table_frames(spark, tmp_path)
    roots = {"seq_a": str(tmp_path / "tbl_a"), "seq_b": str(tmp_path / "tbl_b")}

    real_apply = stream_mod.apply_cdc_batch
    state = {"crashed": False}

    def flaky(table, batch, epoch, lineage=None, **kw):
        if epoch == 1 and table.root.endswith("tbl_b") and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash between sink commits")
        return real_apply(table, batch, epoch=epoch, lineage=lineage, **kw)

    monkeypatch.setattr(stream_mod, "apply_cdc_batch", flaky)

    kw = dict(
        frames_glob=os.path.join(frames_dir, "*"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        lineage_roots={"seq_a": str(tmp_path / "lin_a"), "seq_b": str(tmp_path / "lin_b")},
    )
    q = start_cdc_multi_table_stream(spark, table_roots=roots, **kw)
    with pytest.raises(Exception):
        q.awaitTermination()
    assert state["crashed"]
    # partial state is real: A holds epoch 1, B does not
    assert LakeTable.load(spark, roots["seq_a"]).has_commit("epoch=1")
    assert not LakeTable.load(spark, roots["seq_b"]).has_commit("epoch=1")

    q2 = start_cdc_multi_table_stream(spark, table_roots=roots, **kw)
    q2.awaitTermination()

    for name, log_dir in (("seq_a", "log_a"), ("seq_b", "log_b")):
        t = LakeTable.load(spark, roots[name])
        got = _rows(read_state(t))
        want = _rows(final_state_oracle(read_full_log(spark, str(tmp_path / log_dir))))
        assert got == want, f"{name} diverged from oracle"

    # per-sink lineage landed and epochs are not double-recorded
    for lr in kw["lineage_roots"].values():
        lin = LakeTable.load(spark, lr).read()
        per_epoch = lin.groupBy("checkpoint_epoch", "partition_id").count()
        assert per_epoch.where(F.col("count") > 1).count() == 0


def test_multi_table_heterogeneous_payload_schemas(spark, tmp_path):
    """The reference's sinks are heterogeneous — each parser produces its
    own table shape from one topic.  One stream carries a tokenized-
    sequence table AND a token-metadata table with different payload
    columns; each decodes with ITS schema and converges to its own
    oracle."""
    from pyspark.sql import types as T

    from ton_etl_spark.cdc.apply import read_state
    from ton_etl_spark.cdc.generator import generate_cdc_log

    log_a = generate_cdc_log(spark, 1500, seed=61)

    meta_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("op", T.StringType(), True),
            T.StructField("lsn", T.LongType(), True),
            T.StructField("ts_ms", T.LongType(), True),
            T.StructField("symbol", T.StringType(), True),
            T.StructField("decimals", T.LongType(), True),
            T.StructField("source", T.StringType(), True),
        ]
    )
    rows_b = []
    for i in range(300):
        key = f"m{i % 40}"
        op = "d" if i % 17 == 0 else ("u" if i % 3 == 0 else "c")
        sym = None if op == "d" else f"SYM{i % 40}-{i}"
        dec = None if op == "d" else i % 9
        rows_b.append((key, op, i + 1, i + 1, sym, dec, "meta"))
    log_b = spark.createDataFrame(rows_b, schema=meta_schema)

    frames_dir = str(tmp_path / "frames")
    half = log_a.where(F.col("lsn") % 2 == 0), log_a.where(F.col("lsn") % 2 == 1)
    for i in range(2):
        fa = to_kafka_frames(half[i], table="seq_a")
        fb = to_kafka_frames(log_b.where(F.col("lsn") % 2 == i), table="tok_meta")
        fa.unionByName(fb).coalesce(1).write.parquet(os.path.join(frames_dir, f"b{i}"))

    roots = {"seq_a": str(tmp_path / "ta"), "tok_meta": str(tmp_path / "tm")}
    q = start_cdc_multi_table_stream(
        spark,
        frames_glob=os.path.join(frames_dir, "*"),
        table_roots=roots,
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=1,
        payload_schemas={"tok_meta": meta_schema},
    )
    q.awaitTermination()

    ta = LakeTable.load(spark, roots["seq_a"])
    from ton_etl_spark.cdc.apply import final_state_oracle as oracle

    assert _rows(read_state(ta)) == _rows(oracle(log_a))

    tm = LakeTable.load(spark, roots["tok_meta"])
    got = _rows(read_state(tm))
    want = _rows(oracle(log_b))
    assert got == want
    # the custom columns genuinely round-tripped the wire format
    assert all(r["symbol"].startswith("SYM") for r in got)
    assert set(tm.current().schema.fieldNames()) == set(meta_schema.fieldNames())


def test_multi_table_stream_runs_rolling_maintenance_per_sink(spark, tmp_path):
    """The multi-table loop applies the same maintenance policy as the
    single-table stream: per-sink lineage file counts stay bounded."""
    frames_dir = _make_two_table_frames(spark, tmp_path, n=1200, n_batches=4)
    roots = {"seq_a": str(tmp_path / "ta"), "seq_b": str(tmp_path / "tb")}
    lineage_roots = {"seq_a": str(tmp_path / "la"), "seq_b": str(tmp_path / "lb")}
    q = start_cdc_multi_table_stream(
        spark,
        frames_glob=os.path.join(frames_dir, "*"),
        table_roots=roots,
        checkpoint_dir=str(tmp_path / "ck"),
        lineage_roots=lineage_roots,
        max_files_per_trigger=1,
        maintenance_every=2,
    )
    q.awaitTermination()
    for lr in lineage_roots.values():
        lin = LakeTable.load(spark, lr)
        per_bucket: dict[int, int] = {}
        for f in lin.current().files:
            per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
        # 4 epochs appended; compaction every 2 keeps files/bucket ≤ 3
        assert per_bucket and max(per_bucket.values()) <= 3, per_bucket
        epochs = {
            r["checkpoint_epoch"]
            for r in lin.read().select("checkpoint_epoch").collect()
        }
        assert epochs == set(range(4))


def test_route_without_rows_commits_nothing(spark, tmp_path):
    """seq_b has rows only in the first of four triggers: its sink and its
    lineage table commit once (version 1 after the create), not once per
    trigger, while seq_a applies every trigger; both equal their oracles."""
    log_dir_a = str(tmp_path / "log_a")
    dirs_a = write_cdc_log(
        generate_cdc_log(spark, 800, seed=41), log_dir_a, n_batches=4, dup_pct=10, seed=41
    )
    log_b = generate_cdc_log(spark, 300, seed=42)
    frames_dir = str(tmp_path / "frames")
    for i, da in enumerate(dirs_a):
        f = to_kafka_frames(spark.read.parquet(da), table="seq_a")
        if i == 0:
            f = f.unionByName(to_kafka_frames(log_b, table="seq_b"))
        f.coalesce(1).write.parquet(os.path.join(frames_dir, f"b{i}"))

    roots = {"seq_a": str(tmp_path / "ta"), "seq_b": str(tmp_path / "tb")}
    lineage_roots = {"seq_a": str(tmp_path / "la"), "seq_b": str(tmp_path / "lb")}
    q = start_cdc_multi_table_stream(
        spark,
        frames_glob=os.path.join(frames_dir, "*"),
        table_roots=roots,
        checkpoint_dir=str(tmp_path / "ck"),
        lineage_roots=lineage_roots,
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    assert LakeTable.load(spark, roots["seq_b"]).current_version() == 1
    assert LakeTable.load(spark, lineage_roots["seq_b"]).current_version() == 1
    lin_a = LakeTable.load(spark, lineage_roots["seq_a"]).read()
    assert {r["checkpoint_epoch"] for r in lin_a.collect()} == set(range(4))
    ta = LakeTable.load(spark, roots["seq_a"])
    assert _rows(read_state(ta)) == _rows(final_state_oracle(read_full_log(spark, log_dir_a)))
    tb = LakeTable.load(spark, roots["seq_b"])
    assert _rows(read_state(tb)) == _rows(final_state_oracle(log_b))


def test_sparse_route_is_maintained_on_its_next_trigger(spark, tmp_path):
    """With ``maintenance_every=2`` over four triggers, seq_b has rows only
    in triggers 0 and 2, so no maintenance epoch (1, 3) sees it.  Its sink
    and lineage table are maintained for epoch 1 on trigger 2, the first
    trigger with rows after it; seq_a, with rows every trigger, is
    maintained on epochs 1 and 3 exactly as before.  Both equal their
    oracles."""
    log_dir_a, log_dir_b = str(tmp_path / "log_a"), str(tmp_path / "log_b")
    dirs_a = write_cdc_log(
        generate_cdc_log(spark, 800, seed=43), log_dir_a, n_batches=4, dup_pct=10, seed=43
    )
    dirs_b = write_cdc_log(
        generate_cdc_log(spark, 400, seed=44), log_dir_b, n_batches=2, dup_pct=10, seed=44
    )
    frames_dir = str(tmp_path / "frames")
    for i, da in enumerate(dirs_a):
        f = to_kafka_frames(spark.read.parquet(da), table="seq_a")
        if i % 2 == 0:
            f = f.unionByName(to_kafka_frames(spark.read.parquet(dirs_b[i // 2]), table="seq_b"))
        f.coalesce(1).write.parquet(os.path.join(frames_dir, f"b{i}"))

    roots = {"seq_a": str(tmp_path / "ta"), "seq_b": str(tmp_path / "tb")}
    lineage_roots = {"seq_a": str(tmp_path / "la"), "seq_b": str(tmp_path / "lb")}
    q = start_cdc_multi_table_stream(
        spark,
        frames_glob=os.path.join(frames_dir, "*"),
        table_roots=roots,
        checkpoint_dir=str(tmp_path / "ck"),
        lineage_roots=lineage_roots,
        max_files_per_trigger=1,
        maintenance_every=2,
    )
    q.awaitTermination()

    def rolls(root):
        keys = LakeTable.load(spark, root).current().recent_commit_keys
        return sorted(k for k in keys if k.startswith("roll="))

    assert rolls(roots["seq_a"]) == ["roll=1-g0", "roll=3-g1"]
    assert rolls(lineage_roots["seq_a"]) == ["roll=1-g0", "roll=3-g0"]
    assert rolls(roots["seq_b"]) == ["roll=1-g0"]
    assert rolls(lineage_roots["seq_b"]) == ["roll=1-g0"]
    lin_b = LakeTable.load(spark, lineage_roots["seq_b"])
    assert {r["checkpoint_epoch"] for r in lin_b.read().collect()} == {0, 2}
    per_bucket: dict[int, int] = {}
    for f in lin_b.current().files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert per_bucket and set(per_bucket.values()) == {1}, per_bucket
    ta = LakeTable.load(spark, roots["seq_a"])
    assert _rows(read_state(ta)) == _rows(final_state_oracle(read_full_log(spark, log_dir_a)))
    tb = LakeTable.load(spark, roots["seq_b"])
    assert _rows(read_state(tb)) == _rows(final_state_oracle(read_full_log(spark, log_dir_b)))


def test_multi_table_rejects_unknown_route_keys(spark, tmp_path):
    """A payload_schemas or lineage_roots key that names no route is a
    typo: rejected before any sink, lineage table or stream is created."""
    roots = {"seq_a": str(tmp_path / "ta")}
    for kw in (
        {"payload_schemas": {"seq_x": META_SCHEMA}},
        {"lineage_roots": {"seq_x": str(tmp_path / "lx")}},
    ):
        with pytest.raises(ValueError, match="seq_x"):
            start_cdc_multi_table_stream(
                spark,
                frames_glob=str(tmp_path / "frames" / "*"),
                table_roots=roots,
                checkpoint_dir=str(tmp_path / "ck"),
                **kw,
            )
        assert not os.path.exists(roots["seq_a"])
        assert not os.path.exists(str(tmp_path / "lx"))
        assert not os.path.exists(str(tmp_path / "ck"))


def test_multi_table_config_drift_guard(spark, tmp_path):
    """Restarting a stream on a custom-schema sink WITHOUT its
    payload_schemas entry would decode its frames against the default
    schema and null the custom columns: the restart raises, naming the
    columns, and the sink does not move."""
    frames_dir = str(tmp_path / "frames")
    to_kafka_frames(_meta_log(spark, 60), table="tok_meta").coalesce(1).write.parquet(
        os.path.join(frames_dir, "b0")
    )
    roots = {"tok_meta": str(tmp_path / "tm")}
    kw = dict(
        frames_glob=os.path.join(frames_dir, "*"),
        table_roots=roots,
        checkpoint_dir=str(tmp_path / "ck"),
        max_files_per_trigger=1,
    )
    start_cdc_multi_table_stream(
        spark, payload_schemas={"tok_meta": META_SCHEMA}, **kw
    ).awaitTermination()
    t = LakeTable.load(spark, roots["tok_meta"])
    v = t.current_version()
    assert _rows(read_state(t)) == _rows(final_state_oracle(_meta_log(spark, 60)))

    to_kafka_frames(_meta_log(spark, 30, lsn0=60), table="tok_meta").coalesce(1).write.parquet(
        os.path.join(frames_dir, "b1")
    )
    with pytest.raises(ValueError, match=r"\['decimals', 'symbol'\]"):
        start_cdc_multi_table_stream(spark, **kw)
    assert t.current_version() == v
