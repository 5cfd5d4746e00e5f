"""CLI entry points: the operational layer a deployment runs
(`python -m ton_etl_spark <cmd>` — the reference's process runners,
parser/main.py:24-44).  Driven in-process via cli.main(argv); the
session factory reuses the test session through getOrCreate."""

import json
import os

from ton_etl_spark.cdc.envelope import to_kafka_frames
from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log
from ton_etl_spark.cli import main


def test_cli_session_leaves_environment_unchanged(spark, monkeypatch):
    """A one-shot command turns the session pre-warm off through
    ``get_spark(prewarm=False)``, not by writing ``os.environ``; a set
    ``SPARK_GRAFT_PY_PREWARM`` is left to ``get_spark``'s rule."""
    import argparse

    from ton_etl_spark import cli

    monkeypatch.delenv("SPARK_GRAFT_PY_PREWARM", raising=False)
    seen = {}

    def fake_get_spark(**kw):
        seen.update(kw)
        return spark

    monkeypatch.setattr("ton_etl_spark.session.get_spark", fake_get_spark)
    before = dict(os.environ)
    assert cli._spark(argparse.Namespace(master="local[2]", cmd="describe")) is spark
    assert dict(os.environ) == before
    assert seen["prewarm"] is False
    # a set variable keeps get_spark's own rule
    monkeypatch.setenv("SPARK_GRAFT_PY_PREWARM", "true")
    cli._spark(argparse.Namespace(master="local[2]", cmd="describe"))
    assert seen["prewarm"] is None


def test_cli_keeps_active_session_settings(spark, tmp_path, capsys):
    """An in-process command joins the running session as it is: the
    engine defaults (32 shuffle partitions) must not overwrite the
    fixture's 8 for every test that runs after it."""
    from ton_etl_spark.lake.table import LakeTable

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    d = spark.range(10).selectExpr("id AS k", "id AS v")
    LakeTable.create(spark, str(tmp_path / "t"), schema=d.schema,
                     key_cols=["k"], n_buckets=2).append(d, commit_key="s")
    try:
        assert main(["describe", "--table", str(tmp_path / "t")]) == 0
        capsys.readouterr()
        assert spark.conf.get(key) == "8"
    finally:
        spark.conf.set(key, before)


def test_cli_replay_then_oracle_check_and_maintain(spark, tmp_path, capsys):
    log_root = str(tmp_path / "log")
    write_cdc_log(generate_cdc_log(spark, 2000, seed=71), log_root, n_batches=3, dup_pct=10, seed=71)
    table = str(tmp_path / "tbl")

    assert main(["replay", "--log-root", log_root, "--table", table]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["cmd"] == "replay" and rep["epochs"] == 3 and rep["rows"] > 0

    # the operational replay-equality check: exit code IS the verdict
    assert main(["oracle-check", "--table", table, "--log-root", log_root]) == 0
    oc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert oc["equal"] is True and oc["diff_rows"] == 0

    assert main([
        "maintain", "--table", table, "--compact",
        "--gc-tombstones-below", "0", "--commit-key", "cli-m1",
    ]) == 0
    mt = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert mt["compact"]["applied"] is True

    # state still matches the oracle after maintenance
    assert main(["oracle-check", "--table", table, "--log-root", log_root]) == 0
    capsys.readouterr()


def test_cli_stream_and_multi_stream(spark, tmp_path, capsys):
    log_root = str(tmp_path / "log")
    dirs = write_cdc_log(
        generate_cdc_log(spark, 1500, seed=72), log_root, n_batches=2, dup_pct=5, seed=72
    )
    listeners = len(spark.streams._jsqm.listListeners())
    assert main([
        "stream",
        "--log-glob", os.path.join(log_root, "phase=*", "__seq=*"),
        "--table", str(tmp_path / "t1"),
        "--checkpoint", str(tmp_path / "ck1"),
        "--mart", str(tmp_path / "mart"),
        "--metrics", str(tmp_path / "metrics"),
        "--max-files-per-trigger", "8",
    ]) == 0
    st = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert st["rows"] > 0
    assert st["metrics_rows"] >= 1  # the exporter surface drained progress rows
    # the recorder is detached: later streams in this session are not recorded
    assert len(spark.streams._jsqm.listListeners()) == listeners
    assert main(["oracle-check", "--table", str(tmp_path / "t1"), "--log-root", log_root]) == 0
    capsys.readouterr()

    frames_dir = str(tmp_path / "frames")
    for i, d in enumerate(dirs):
        to_kafka_frames(spark.read.parquet(d), table="seq_a").coalesce(1).write.parquet(
            os.path.join(frames_dir, f"b{i}")
        )
    assert main([
        "multi-stream",
        "--frames-glob", os.path.join(frames_dir, "*"),
        "--route", f"seq_a={tmp_path / 't2'}",
        "--checkpoint", str(tmp_path / "ck2"),
        "--max-files-per-trigger", "1",
    ]) == 0
    ms = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ms["tables"] == ["seq_a"]
    assert main(["oracle-check", "--table", str(tmp_path / "t2"), "--log-root", log_root]) == 0
    capsys.readouterr()


def test_cli_describe(spark, tmp_path, capsys):
    log_root = str(tmp_path / "dlog")
    write_cdc_log(generate_cdc_log(spark, 1500, seed=77), log_root, n_batches=2, dup_pct=0, seed=77)
    table = str(tmp_path / "dtbl")
    assert main(["replay", "--log-root", log_root, "--table", table]) == 0
    capsys.readouterr()

    assert main(["describe", "--table", table, "--bounds"]) == 0
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["cmd"] == "describe" and d["version"] >= 2
    assert d["n_buckets"] == 16 and d["key_cols"] == ["doc_id"]
    assert d["n_files"] >= 1 and d["rows_total"] > 0
    assert d["stats_columns"] == ["lsn"]       # sequences-table default
    assert d["stats_coverage"] == 1.0
    lo, hi = d["bounds"]["lsn"]
    assert 0 <= lo <= hi
    assert "epoch" in d["commit_watermarks"]


def test_cli_export(spark, tmp_path, capsys):
    import duckdb

    log_root = str(tmp_path / "xlog")
    write_cdc_log(generate_cdc_log(spark, 800, seed=21), log_root, n_batches=2, dup_pct=0, seed=21)
    table = str(tmp_path / "xtbl")
    assert main(["replay", "--log-root", log_root, "--table", table]) == 0
    capsys.readouterr()

    out = str(tmp_path / "xport")
    assert main(["export", "--table", table, "--out", out, "--state"]) == 0
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["cmd"] == "export" and d["version"] >= 1

    # the emitted DuckDB view runs as-is and matches read_state's count
    from ton_etl_spark.cdc.apply import read_state
    from ton_etl_spark.lake.table import LakeTable

    con = duckdb.connect()
    con.execute(open(d["duckdb_view"]).read())
    view = open(d["duckdb_view"]).read().split()[4]  # CREATE OR REPLACE VIEW <name>
    n = con.execute(f"SELECT count(*) FROM {view}").fetchone()[0]
    t = LakeTable.load(spark, table)
    assert n == read_state(t).count() > 0
    ddl = open(d["hive_ddl"]).read()
    assert "SymlinkTextInputFormat" in ddl and os.path.exists(d["manifest"])


def test_cli_metrics_oneshot_and_serve(spark, tmp_path, capsys):
    """`metrics` = the reference's standalone prometheus_exporter process
    (prometheus_exporter/main.py): one-shot exposition print, then an HTTP
    /metrics server that re-reads the lake table between scrapes."""
    import urllib.request

    from ton_etl_spark.streaming.observability import make_metrics_table

    root = str(tmp_path / "metrics")
    m = make_metrics_table(spark, root)
    rows = [
        ("q", "r", 0, "2026-01-01T00:00:00.000Z", 500, 1000, 800, None, None, None),
        ("q", "r", 1, "2026-01-01T00:00:05.000Z", 1500, 2000, 1500, None, None, None),
    ]
    m.append(spark.createDataFrame(rows, m.current().schema), commit_key="seed")

    assert main(["metrics", "--metrics-root", root]) == 0
    text = capsys.readouterr().out
    assert "ton_etl_ingest_rows_total 2000" in text
    assert "# TYPE ton_etl_ingest_rows_per_sec gauge" in text

    # serve mode: scrape over HTTP, then stop after the bounded refreshes
    import threading

    rc = {}

    def run():
        rc["v"] = main([
            "metrics", "--metrics-root", root, "--serve", "0",
            "--refresh", "0.2", "--max-refreshes", "2",
        ])

    th = threading.Thread(target=run)
    th.start()
    # the port line is printed before the refresh loop starts
    import time

    port = None
    for _ in range(100):
        out = capsys.readouterr().out
        for line in out.splitlines():
            if line.startswith("{"):
                port = json.loads(line)["port"]
        if port:
            break
        time.sleep(0.05)
    assert port
    body = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics").read().decode()
    assert "ton_etl_ingest_rows_total 2000" in body
    th.join(timeout=30)
    assert not th.is_alive() and rc["v"] == 0


def test_cli_metrics_with_event_gauges(spark, tmp_path, capsys):
    """--events-root adds the reference's per-family delay gauges next to
    the delivery gauges in the same exposition."""
    from ton_etl_spark.lake.table import LakeTable
    from ton_etl_spark.streaming.observability import make_metrics_table

    mroot = str(tmp_path / "m")
    m = make_metrics_table(spark, mroot)
    m.append(spark.createDataFrame(
        [("q", "r", 0, "2026-01-01T00:00:00.000Z", 5, 1000, 900, None, None, None)],
        m.current().schema), commit_key="seed")

    eroot = str(tmp_path / "ev")
    df = spark.createDataFrame(
        [(1, "p2p", 100, 4.0), (2, "p2p", 101, 6.0), (3, "jetton", 102, 9.0)],
        "k long, cls string, ts long, delay double")
    t = LakeTable.create(spark, eroot, schema=df.schema, key_cols=["k"], n_buckets=2)
    t.append(df, commit_key="seed")

    assert main([
        "metrics", "--metrics-root", mroot, "--events-root", eroot,
        "--class-col", "cls", "--window", "100000",
    ]) == 0
    text = capsys.readouterr().out
    assert 'ton_etl_common_operations{class="p2p",col="average"} 5' in text
    assert 'ton_etl_common_operations{class="jetton",col="tx_count"} 1' in text
    assert "ton_etl_ingest_rows_total 5" in text


def test_cli_lookup_and_demand_driven_zorder(spark, tmp_path, capsys):
    """Round-6 surfaces: `lookup` (point lookups over where_in) and
    `maintain --zorder --zorder-if-overlap` (rewrite only when the
    clustering metric says so)."""
    from ton_etl_spark.lake.table import LakeTable

    df = spark.range(4000).selectExpr(
        "id AS k", "xxhash64(id, 1) % 1000 AS a", "xxhash64(id, 2) % 1000 AS b"
    )
    table = str(tmp_path / "tbl")
    t = LakeTable.create(spark, table, schema=df.schema, key_cols=["k"],
                         n_buckets=2, stats_cols=["a", "b"], sort_cols=["a"],
                         target_file_rows=50)
    t.append(df, commit_key="seed")

    # point lookup: key-covering probe, JSON lines out
    assert main(["lookup", "--table", table, "--in", '{"k": [5, 17]}',
                 "--columns", "k,a"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["k"] for r in lines) == [5, 17]
    assert all(set(r) == {"k", "a"} for r in lines)

    # b is unclustered (overlap ~1) => threshold 0.6 triggers the rewrite
    assert main(["maintain", "--table", table, "--zorder", "a,b",
                 "--zorder-if-overlap", "0.6", "--commit-key", "z1"]) == 0
    z = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert z["zorder"]["applied"] is True and z["zorder"]["overlap"] > 0.6

    # now well-clustered => same invocation skips, no commit
    v = LakeTable.load(spark, table).current_version()
    assert main(["maintain", "--table", table, "--zorder", "a,b",
                 "--zorder-if-overlap", "0.6", "--commit-key", "z2"]) == 0
    z2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert z2["zorder"]["skipped"] == "well-clustered"
    assert LakeTable.load(spark, table).current_version() == v


def test_cli_maintain_input_guards(spark, tmp_path, capsys):
    """Round-6 review fixes: (a) `--delete-in` must reject a scalar probe
    value — a bare string would be iterated character-by-character and
    DELETE the wrong keys (GDPR path); (b) `--zorder-if-overlap` without
    `--zorder` must fail loudly, not silently skip maintenance; (c)
    `--delete-where`/`--update-where` must reject any shape other than
    {"col": [lo, hi]} with a clean exit, not a TypeError traceback."""
    import pytest

    from ton_etl_spark.lake.table import LakeTable

    df = spark.createDataFrame(
        [("17", 1), ("1", 2), ("7", 3)], "user string, v int"
    )
    table = str(tmp_path / "tbl")
    t = LakeTable.create(spark, table, schema=df.schema, key_cols=["user"],
                         n_buckets=2)
    t.append(df, commit_key="seed")

    with pytest.raises(SystemExit, match="delete-in"):
        main(["maintain", "--table", table, "--delete-in", '{"user": "17"}'])
    # nothing was deleted: users "1" and "7" (the characters of "17") intact
    assert t.read().count() == 3
    # a range flag that is not {"col": [lo, hi]} exits before any action
    with pytest.raises(SystemExit, match="delete-where"):
        main(["maintain", "--table", table, "--delete-where", '{"v": 5}'])
    with pytest.raises(SystemExit, match="update-where"):
        main(["maintain", "--table", table, "--update-set", '{"v": "v + 1"}',
              "--update-where", '{"v": [1, 2, 3]}'])
    assert sorted((r["user"], r["v"]) for r in t.read().collect()) == [
        ("1", 2), ("17", 1), ("7", 3)]

    with pytest.raises(SystemExit, match="requires --zorder"):
        main(["maintain", "--table", table, "--zorder-if-overlap", "0.5"])

    # the well-formed equivalent deletes exactly key "17"
    assert main(["maintain", "--table", table,
                 "--delete-in", '{"user": ["17"]}']) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["delete"]["deleted_rows"] == 1
    assert sorted(r["user"] for r in t.read().collect()) == ["1", "7"]


def test_cli_maintain_binpack(spark, tmp_path, capsys):
    """maintain --binpack packs slivers without touching well-sized files;
    --small-rows without --binpack fails loudly."""
    import pytest

    from ton_etl_spark.lake.table import LakeTable

    schema = spark.createDataFrame([], "k long, v string").schema
    table = str(tmp_path / "tbl")
    t = LakeTable.create(spark, table, schema=schema, key_cols=["k"],
                         n_buckets=2, target_file_rows=200)
    t.append(spark.range(500).selectExpr("id AS k", "concat('v', id) AS v"),
             commit_key="big")
    for i in range(3):
        t.append(spark.range(500 + i, 501 + i)
                 .selectExpr("id AS k", "concat('v', id) AS v"),
                 commit_key=f"s{i}")

    with pytest.raises(SystemExit, match="requires --binpack"):
        main(["maintain", "--table", table, "--small-rows", "100"])

    n_before = len(t.current().files)
    assert main(["maintain", "--table", table, "--binpack",
                 "--small-rows", "100", "--commit-key", "bp"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["binpack"]["applied"] is True and out["binpack"]["packed_files"] >= 3
    assert len(t.current().files) < n_before
    assert t.read().count() == 503

    # describe surfaces the binpack demand signal (dual of --clustering)
    assert main(["describe", "--table", table]) == 0
    d = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert d["small_files"] < 3  # slivers were packed away


def test_cli_lookup_is_live_state_on_cdc_tables(spark, tmp_path, capsys):
    """Round-6 fix: `lookup` on a CDC table answers the LIVE state (the
    reference's online SELECT semantics) — a deleted key returns nothing,
    not its tombstone; --raw exposes the storage view; read_state grows a
    matching where_in= fast path."""
    from ton_etl_spark.cdc.apply import (
        apply_cdc_batch,
        make_sequences_table,
        read_state,
    )
    from ton_etl_spark.cdc.generator import generate_cdc_log

    table = str(tmp_path / "seq")
    t = make_sequences_table(spark, table, n_buckets=4)
    log = generate_cdc_log(spark, 2000, seed=41)
    apply_cdc_batch(t, log, epoch=0)
    live = {r["doc_id"] for r in read_state(t).collect()}
    stored = {r["doc_id"] for r in t.read().collect()}
    dead = sorted(stored - live)
    assert dead, "generator should produce deleted keys"
    victim, alive = dead[0], sorted(live)[0]

    # live-state default: the deleted key yields no row, the live one does
    assert main(["lookup", "--table", table,
                 "--in", json.dumps({"doc_id": [victim, alive]}),
                 "--columns", "doc_id"]) == 0
    got = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [r["doc_id"] for r in got] == [alive]

    # --raw: storage view still shows the tombstone
    assert main(["lookup", "--table", table, "--raw",
                 "--in", json.dumps({"doc_id": [victim]}),
                 "--columns", "doc_id,op"]) == 0
    raw = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert raw and raw[0]["op"] == "d"

    # read_state(where_in=) == read_state().isin (pruned = truth)
    a = {r["doc_id"]
         for r in read_state(t, where_in={"doc_id": [victim, alive]}).collect()}
    assert a == {alive}


def test_cli_maintain_purge_tombstones(spark, tmp_path, capsys):
    """r6-advice fix: `maintain --delete-in` on a CDC table keeps the
    victims' op='d' tombstones by default (two-step compliance delete);
    `--purge-tombstones` drops them in the same pass, and the flag
    without a delete fails loudly."""
    import pytest

    from ton_etl_spark.cdc.apply import apply_cdc_batch, make_sequences_table
    from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA

    table = str(tmp_path / "tbl")
    t = make_sequences_table(spark, table, n_buckets=4)
    apply_cdc_batch(t, spark.createDataFrame(
        [
            ("k1", "c", 10, 10, [1, 2], 2, "web"),
            ("k2", "d", 20, 20, None, None, "web"),
            ("k3", "u", 40, 40, [7], 1, "web"),
        ],
        schema=CDC_EVENT_SCHEMA,
    ), epoch=0)

    with pytest.raises(SystemExit, match="purge-tombstones requires"):
        main(["maintain", "--table", table, "--purge-tombstones"])

    # default: k2's tombstone row is NOT deleted by the per-key delete
    assert main(["maintain", "--table", table,
                 "--delete-in", '{"doc_id": ["k2"]}',
                 "--commit-key", "c1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["delete"]["deleted_rows"] == 0
    assert t.read().where("doc_id = 'k2' AND op = 'd'").count() == 1

    # one-step compliance delete: tombstone purged in the same pass
    assert main(["maintain", "--table", table,
                 "--delete-in", '{"doc_id": ["k2"]}', "--purge-tombstones",
                 "--commit-key", "c2"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["delete"]["deleted_rows"] == 1
    assert t.read().where("doc_id = 'k2'").count() == 0
    # bystanders untouched
    assert sorted(r["doc_id"] for r in t.read().collect()) == ["k1", "k3"]


def test_cli_follow_mirror_and_report(spark, tmp_path, capsys):
    """`follow`: report mode prints one JSON line per interval; `--sink`
    mirrors the changelog exactly-once into a LakeTable, resuming from
    the cursor across invocations."""
    from ton_etl_spark.cdc.apply import apply_cdc_batch, make_sequences_table
    from ton_etl_spark.lake.table import LakeTable

    table = str(tmp_path / "src")
    t = make_sequences_table(spark, table, n_buckets=4)
    v0 = t.current_version()
    dirs = write_cdc_log(
        generate_cdc_log(spark, 800, seed=77), str(tmp_path / "log"),
        n_batches=2, dup_pct=10, seed=77,
    )
    cursor = str(tmp_path / "cur.json")
    sink_root = str(tmp_path / "mirror")

    apply_cdc_batch(t, spark.read.parquet(dirs[0]), epoch=0)
    assert main(["follow", "--table", table, "--cursor", cursor,
                 "--sink", sink_root, "--start-version", str(v0)]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batches"] == 1 and out["sink_rows"] > 0

    # second invocation resumes from the cursor: only the new epoch flows
    apply_cdc_batch(t, spark.read.parquet(dirs[1]), epoch=1)
    assert main(["follow", "--table", table, "--cursor", cursor,
                 "--sink", sink_root]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batches"] == 1 and out["cursor"] == t.current_version()

    # the mirror's signed net equals one changes() sweep
    sink = LakeTable.load(spark, sink_root)
    head = t.current_version()
    cols = [f.name for f in t.current().schema.fields]

    def _net(df):
        from collections import Counter

        net: Counter = Counter()
        for r in df.collect():
            d = r.asDict()
            net[repr([(c, d.get(c)) for c in cols])] += (
                1 if d["_change_type"] == "insert" else -1)
        return {k: v for k, v in net.items() if v}

    assert _net(sink.read()) == _net(t.changes(v0, head))

    # report mode on a fresh cursor prints per-interval counts
    cursor2 = str(tmp_path / "cur2.json")
    assert main(["follow", "--table", table, "--cursor", cursor2,
                 "--start-version", str(v0)]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines[-1]["cmd"] == "follow" and lines[-1]["batches"] == 1
    assert lines[0]["interval"] == [v0, head]
    assert lines[0]["insert"] > 0


def test_cli_maintain_update_set(spark, tmp_path, capsys):
    """maintain --update-set: in-place predicate UPDATE from the CLI, with
    the same loud input guards as the delete path."""
    import pytest

    from ton_etl_spark.lake.table import LakeTable

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(20)], "k long, text string"
    )
    table = str(tmp_path / "tbl")
    t = LakeTable.create(spark, table, schema=df.schema, key_cols=["k"],
                         n_buckets=2)
    t.append(df, commit_key="seed")

    with pytest.raises(SystemExit, match="require --update-set"):
        main(["maintain", "--table", table, "--update-in", '{"k": [1]}'])
    with pytest.raises(SystemExit, match="requires --update-where"):
        main(["maintain", "--table", table, "--update-set",
              '{"text": "upper(text)"}'])
    with pytest.raises(SystemExit, match="update-in must be"):
        main(["maintain", "--table", table, "--update-set",
              '{"text": "upper(text)"}', "--update-in", '{"k": "17"}'])

    assert main(["maintain", "--table", table,
                 "--update-set", '{"text": "upper(text)"}',
                 "--update-in", '{"k": [3, 7]}',
                 "--commit-key", "u1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["update"]["updated_rows"] == 2
    got = {r.k: r.text for r in t.read().collect()}
    assert got[3] == "T3" and got[7] == "T7" and got[5] == "t5"
