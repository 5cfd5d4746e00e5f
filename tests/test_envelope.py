"""Kafka/Debezium envelope front door: JSON round-trip, op/table filters,
and replay equality through the envelope-decode path (batch and streaming).

Reference parity: flat Debezium JSON with __op/__table/__lsn/__source_ts_ms
meta fields, filtered on op and stripped before converting
(datalake/main.py:50,212-221; parser/main.py:85-143)."""

import os

from pyspark.sql import functions as F

from ton_etl_spark.cdc.apply import (
    apply_cdc_batch,
    final_state_oracle,
    make_sequences_table,
    read_full_log,
    read_state,
)
from ton_etl_spark.cdc.envelope import (
    KAFKA_FRAME_SCHEMA,
    parse_cdc_envelope,
    to_kafka_frames,
)
from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log
from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA, CDC_EVENT_SCHEMA_EVOLVED


def _rows(df, order="lsn"):
    return [r.asDict() for r in df.orderBy(order).collect()]


def test_envelope_roundtrip_exact(spark):
    """encode → decode is the identity on every column, including token
    arrays, null tombstone payloads, and the late-added extra_meta."""
    log = generate_cdc_log(spark, 2000, seed=11)
    frames = to_kafka_frames(log)
    assert [(f.name, f.dataType) for f in frames.schema.fields] == [
        (f.name, f.dataType) for f in KAFKA_FRAME_SCHEMA.fields
    ]
    back = parse_cdc_envelope(frames)
    assert back.columns == log.columns
    assert _rows(back) == _rows(log)


def test_envelope_op_and_table_filters(spark):
    """The append-mart op filter (c/r only — datalake/main.py:214).  The
    __table router (datalake/main.py:213) runs before the decode, in the
    routed streams of cdc.stream."""
    log = generate_cdc_log(spark, 1000, seed=13)
    frames = to_kafka_frames(log, table="sequences")
    kept = parse_cdc_envelope(frames, allowed_ops=("c", "r"))
    ops = {r["op"] for r in kept.select("op").distinct().collect()}
    assert ops == {"c", "r"}
    n_expected = log.where(F.col("op").isin("c", "r")).count()
    assert kept.count() == n_expected


def test_envelope_drops_malformed_frames(spark):
    """Corrupt JSON and meta-less messages are dropped (the reference's
    log-and-skip), never forwarded with null op/lsn into the merge."""
    good = to_kafka_frames(generate_cdc_log(spark, 50, seed=19))
    mistyped = (
        b'{"doc_id":"x","tokens":"oops","n_tok":1,"source":"web",'
        b'"__op":"u","__table":"sequences","__lsn":99,"__source_ts_ms":5}'
    )
    bad = spark.createDataFrame(
        [
            (None, b"not json at all", "cdc.sequences", 0, 999999, None),
            (None, b'{"doc_id": "x", "tokens": [1]}', "cdc.sequences", 0, 999998, None),
            # partially-corrupt: valid meta but a mis-typed payload field —
            # PERMISSIVE from_json would half-keep it with tokens=null, and
            # that null payload could win LWW over good stored state
            (None, mistyped, "cdc.sequences", 0, 999997, None),
        ],
        KAFKA_FRAME_SCHEMA,
    )
    out = parse_cdc_envelope(good.unionByName(bad))
    assert out.count() == 50
    assert out.where(F.col("op").isNull() | F.col("lsn").isNull()).count() == 0
    assert out.where(F.col("lsn") == 99).count() == 0  # mistyped row dropped whole


def test_envelope_decode_fuzz_invariants(spark):
    """Adversarial wire bytes: truncated JSON, wrong-typed fields, huge
    numbers, unicode junk, empty/null values, meta-only and payload-only
    documents.  Invariants: the decode NEVER raises, NEVER emits a row
    with null op/lsn, and every surviving row round-trips its doc_id."""
    import json as _json
    import random

    rng = random.Random(7)
    frames = []
    valid_ids = set()
    for i in range(300):
        kind = i % 10
        if kind < 4:  # well-formed
            doc = {
                "doc_id": f"ok{i}", "tokens": [1, 2, 3], "n_tok": 3,
                "source": "web", "extra_meta": None, "__op": "u",
                "__table": "sequences", "__lsn": i, "__source_ts_ms": i,
            }
            valid_ids.add(f"ok{i}")
            payload = _json.dumps(doc).encode()
        elif kind == 4:  # truncated
            payload = _json.dumps({"doc_id": f"t{i}", "__op": "u"}).encode()[: rng.randint(1, 20)]
        elif kind == 5:  # wrong-typed payload field
            payload = _json.dumps(
                {"doc_id": f"w{i}", "tokens": "not-an-array", "n_tok": 1,
                 "source": "web", "__op": "u", "__table": "sequences",
                 "__lsn": i, "__source_ts_ms": i}
            ).encode()
        elif kind == 6:  # meta missing
            payload = _json.dumps({"doc_id": f"m{i}", "tokens": [1], "n_tok": 1}).encode()
        elif kind == 7:  # huge / overflowing numbers
            payload = _json.dumps(
                {"doc_id": f"h{i}", "tokens": [1], "n_tok": 1, "source": "web",
                 "__op": "u", "__table": "sequences",
                 "__lsn": 10**25, "__source_ts_ms": i}
            ).encode()
        elif kind == 8:  # unicode junk, not json
            payload = ("☃" * rng.randint(1, 30)).encode()
        else:  # null value
            payload = None
        frames.append((None, payload, "cdc.sequences", 0, i, None))
    df = spark.createDataFrame(frames, KAFKA_FRAME_SCHEMA)
    out = parse_cdc_envelope(df).collect()  # must not raise
    assert all(r["op"] is not None and r["lsn"] is not None for r in out)
    got_ids = {r["doc_id"] for r in out}
    # every well-formed row survived; nothing else leaked through with a
    # parseable-but-broken payload (wrong-typed rows are dropped WHOLE)
    assert valid_ids <= got_ids
    assert not any(d and (d.startswith("w") or d.startswith("t")) for d in got_ids)


def test_envelope_replay_equality(spark, tmp_path):
    """Full CDC replay (out-of-order + duplicates + mid-stream evolution)
    through the Kafka-envelope decode: final state must equal the one-pass
    oracle over the raw log.  Pre-evolution batches are encoded from files
    that genuinely lack extra_meta, and parsed with the pre-evolution
    payload schema."""
    log_dir = str(tmp_path / "log")
    log = generate_cdc_log(spark, 5000, seed=12)
    dirs = write_cdc_log(log, log_dir, n_batches=4, dup_pct=10, seed=12)

    table = make_sequences_table(spark, str(tmp_path / "tbl"))
    for epoch, d in enumerate(dirs):
        ev = spark.read.parquet(d)
        frames = to_kafka_frames(ev)
        schema = CDC_EVENT_SCHEMA if "phase=0" in d else CDC_EVENT_SCHEMA_EVOLVED
        batch = parse_cdc_envelope(frames, payload_schema=schema)
        apply_cdc_batch(table, batch, epoch=epoch)

    got = _rows(read_state(table), order="doc_id")
    want = _rows(final_state_oracle(read_full_log(spark, log_dir)), order="doc_id")
    assert got == want


def test_envelope_stream_replay_equality(spark, tmp_path):
    """Same equality through the STREAMING envelope path: a file stream of
    Kafka-shaped frame parquet routed to one sink, decoded by from_json
    per micro-batch, MERGEd exactly-once via foreachBatch."""
    from ton_etl_spark.cdc.stream import start_cdc_multi_table_stream

    log_dir = str(tmp_path / "log")
    log = generate_cdc_log(spark, 4000, seed=17)
    dirs = write_cdc_log(log, log_dir, n_batches=4, dup_pct=10, seed=17)
    frames_dir = str(tmp_path / "frames")
    for i, d in enumerate(dirs):
        to_kafka_frames(spark.read.parquet(d)).coalesce(1).write.parquet(
            os.path.join(frames_dir, f"b{i}")
        )

    q = start_cdc_multi_table_stream(
        spark,
        frames_glob=os.path.join(frames_dir, "*"),
        table_roots={"sequences": str(tmp_path / "tbl")},
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    from ton_etl_spark.lake.table import LakeTable

    table = LakeTable.load(spark, str(tmp_path / "tbl"))
    got = _rows(read_state(table), order="doc_id")
    want = _rows(final_state_oracle(read_full_log(spark, log_dir)), order="doc_id")
    assert got == want
