"""Lake maintenance: tombstone GC honors the redelivery horizon, snapshot
expiry frees storage without breaking current reads or idempotency, and
rewrite compaction collapses buckets to one file."""

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.cdc.apply import apply_cdc_batch, make_sequences_table, read_state
from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA
from ton_etl_spark.lake.maintenance import expire_snapshots, gc_tombstones, rewrite_buckets
from ton_etl_spark.lake.table import LakeTable


@pytest.fixture()
def table_with_tombstones(spark, tmp_path):
    t = make_sequences_table(spark, str(tmp_path / "t"), n_buckets=4)
    batch = spark.createDataFrame(
        [
            ("k1", "c", 10, 10, [1, 2], 2, "web"),
            ("k2", "d", 20, 20, None, None, "web"),   # old tombstone
            ("k3", "d", 90, 90, None, None, "web"),   # recent tombstone
            ("k4", "u", 40, 40, [7], 1, "web"),
        ],
        schema=CDC_EVENT_SCHEMA,
    )
    apply_cdc_batch(t, batch, epoch=0)
    return t


def test_gc_tombstones_respects_horizon(spark, table_with_tombstones):
    t = table_with_tombstones
    raw_before = t.read().count()
    assert raw_before == 4  # 2 live + 2 tombstones
    res = gc_tombstones(t, horizon_lsn=50, commit_key="gc-1")
    assert res["applied"]
    raw = t.read()
    assert raw.count() == 3  # k2's tombstone (lsn 20 <= 50) gone
    assert raw.where((F.col("doc_id") == "k3") & (F.col("op") == "d")).count() == 1
    # consumer view unchanged
    assert sorted(r["doc_id"] for r in read_state(t).collect()) == ["k1", "k4"]
    # recent tombstone still blocks stale resurrection
    stale = spark.createDataFrame(
        [("k3", "u", 60, 60, [9], 1, "web")], schema=CDC_EVENT_SCHEMA
    )
    apply_cdc_batch(t, stale, epoch=1)
    assert read_state(t).where(F.col("doc_id") == "k3").count() == 0
    # idempotent on commit_key
    assert gc_tombstones(t, horizon_lsn=50, commit_key="gc-1")["applied"] is False


def test_expire_snapshots_frees_files_keeps_current(spark, table_with_tombstones, tmp_path):
    t = table_with_tombstones
    # a few more versions
    for e in (1, 2):
        b = spark.createDataFrame(
            [(f"n{e}", "c", 100 + e, 100 + e, [e], 1, "web")], schema=CDC_EVENT_SCHEMA
        )
        apply_cdc_batch(t, b, epoch=e)
    cur = t.current_version()
    state_before = sorted(tuple(r) for r in read_state(t).collect())
    old_files = {f.path for f in t.snapshot(1).files}
    kept_now = {f.path for f in t.snapshot(cur).files}

    # default grace window: freshly-written files are NEVER collected, even
    # when unreferenced — protects a concurrent commit's files written
    # before its snapshot publishes
    res_grace = expire_snapshots(t, keep_last=1)
    assert res_grace["removed_files"] == 0
    for p in old_files - kept_now:
        assert os.path.exists(os.path.join(t.root, p))

    res = expire_snapshots(t, keep_last=1, grace_seconds=0)
    assert res["removed_snapshots"] + res_grace["removed_snapshots"] >= 1
    # current read identical
    assert sorted(tuple(r) for r in read_state(t).collect()) == state_before
    # time-travel to an expired version now fails
    with pytest.raises(FileNotFoundError):
        t.snapshot(0)
    # files exclusive to expired snapshots are gone from disk
    kept = {f.path for f in t.snapshot(cur).files}
    for p in old_files - kept:
        assert not os.path.exists(os.path.join(t.root, p))
    # batch idempotency survives expiry (commit keys live in the snapshot)
    assert apply_cdc_batch(t, spark.createDataFrame([], CDC_EVENT_SCHEMA), epoch=1)[
        "applied"
    ] is False


def test_expire_grace_protects_in_flight_commit(spark, table_with_tombstones):
    """The concurrent-writer race directly: a commit writes its data file
    and manifest BEFORE publishing its snapshot.  Maintenance running in
    that window must not collect them (default grace); explicit
    grace_seconds=0 (caller-serialized) may."""
    import json as _json

    t = table_with_tombstones
    # simulate the pre-publish window: fresh data file + manifest that no
    # published snapshot references yet
    data_rel = os.path.join("data", "c99-pending", "__bucket=0", "part-pending.parquet")
    os.makedirs(os.path.dirname(os.path.join(t.root, data_rel)), exist_ok=True)
    with open(os.path.join(t.root, data_rel), "wb") as fh:
        fh.write(b"PAR1pending")
    man_rel = os.path.join("_meta", "manifests", "c99-pending-b0.json")
    with open(os.path.join(t.root, man_rel), "w") as fh:
        _json.dump([{"path": data_rel, "bucket": 0, "rows": 1}], fh)

    expire_snapshots(t, keep_last=1)  # default grace
    assert os.path.exists(os.path.join(t.root, data_rel))
    assert os.path.exists(os.path.join(t.root, man_rel))

    expire_snapshots(t, keep_last=1, grace_seconds=0)
    assert not os.path.exists(os.path.join(t.root, data_rel))
    assert not os.path.exists(os.path.join(t.root, man_rel))


def test_rewrite_compacts_multi_file_buckets(spark, tmp_path):
    # appends accumulate one file per bucket per commit; rewrite collapses
    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "a"), schema=schema, key_cols=["k"], n_buckets=2)
    for i in range(3):
        t.append(spark.createDataFrame([(f"k{i}", i)], schema), commit_key=f"a{i}")
    files_before = len(t.current().files)
    assert files_before >= 3
    res = rewrite_buckets(t, commit_key="compact-1")
    assert res["applied"]
    snap = t.current()
    per_bucket = {}
    for f in snap.files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    assert t.read().count() == 3


def test_snapshot_metadata_stays_bounded(spark, tmp_path):
    """100 single-bucket MERGE commits: snapshot JSON size must stay flat
    (per-bucket manifests + watermarked commit keys), commit metadata I/O
    O(touched buckets), and idempotency must still hold via the watermark."""
    import json

    t = make_sequences_table(spark, str(tmp_path / "b"), n_buckets=8)

    def snap_bytes():
        with open(t._snapshot_path(t.current_version())) as fh:
            return len(fh.read())

    sizes = []
    for i in range(100):
        b = spark.createDataFrame(
            [("hot", "u", 1000 + i, 1000 + i, [i], 1, "web")], schema=CDC_EVENT_SCHEMA
        )
        apply_cdc_batch(t, b, epoch=i)
        sizes.append(snap_bytes())
    # flat metadata: the 100th snapshot is no bigger than the 5th (+ slack
    # for the growing recent-keys list entries)
    assert sizes[99] <= sizes[4] + 40 * 100, sizes[::20]
    # one manifest pointer per touched bucket, one file per bucket
    snap = t.current()
    assert len(snap.manifests) == 1
    assert len(snap.files) == 1
    # idempotency via numeric watermark, not an O(history) key list
    assert snap.commit_watermarks == {"epoch": 99}
    assert apply_cdc_batch(t, spark.createDataFrame([], CDC_EVENT_SCHEMA), epoch=3)[
        "applied"
    ] is False
    assert read_state(t).count() == 1


def test_nonnumeric_keys_dedupe_within_recent_window(spark, tmp_path, monkeypatch):
    """Ad-hoc (non-numeric) commit keys are deduplicated within the bounded
    recent window — the documented contract replacing the O(history) list."""
    import ton_etl_spark.lake.table as tbl

    monkeypatch.setattr(tbl, "RECENT_KEYS_MAX", 4)
    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "w"), schema=schema, key_cols=["k"], n_buckets=2)
    for name in ["alpha", "beta", "gamma", "delta"]:
        assert t.append(spark.createDataFrame([(name, 1)], schema), commit_key=name)
    assert t.has_commit("alpha")
    assert not t.append(spark.createDataFrame([("x", 1)], schema), commit_key="alpha")
    # a 5th key evicts the oldest from the window
    assert t.append(spark.createDataFrame([("eps", 1)], schema), commit_key="eps")
    assert not t.has_commit("alpha")
    assert t.has_commit("beta") and t.has_commit("eps")


def test_rolling_maintenance_keeps_stream_tables_bounded(spark, tmp_path):
    """A long-running stream with the rolling maintenance policy: the
    append-only lineage table's per-bucket file counts must stay bounded
    (not O(epochs)), and the maintained sink must still equal the one-pass
    replay oracle."""
    import os as _os

    from ton_etl_spark.cdc.apply import final_state_oracle, read_full_log
    from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log
    from ton_etl_spark.cdc.stream import start_cdc_stream
    from ton_etl_spark.lake.table import LakeTable

    log_dir = str(tmp_path / "log")
    dirs = write_cdc_log(
        generate_cdc_log(spark, 4000, seed=41), log_dir, n_batches=12, dup_pct=5, seed=41
    )
    assert len(dirs) == 12
    q = start_cdc_stream(
        spark,
        log_glob=_os.path.join(log_dir, "phase=*", "__seq=*"),
        table_root=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        lineage_root=str(tmp_path / "lin"),
        max_files_per_trigger=8,  # one delivery dir (8 files) per epoch
        maintenance_every=3,
        maintenance_groups=2,
    )
    q.awaitTermination()

    t = LakeTable.load(spark, str(tmp_path / "tbl"))
    got = sorted(tuple(r) for r in read_state(t).collect())
    want = sorted(
        tuple(r) for r in final_state_oracle(read_full_log(spark, log_dir)).collect()
    )
    assert got == want

    # lineage: 12 epochs appended one file per touched bucket per epoch;
    # whole-table compaction every 3 epochs caps files/bucket at ~3, far
    # below the unmaintained 12
    lin = LakeTable.load(spark, str(tmp_path / "lin"))
    per_bucket: dict[int, int] = {}
    for f in lin.current().files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert per_bucket and max(per_bucket.values()) <= 4, per_bucket
    # lineage content survived compaction: every epoch still covered
    epochs = {r["checkpoint_epoch"] for r in lin.read().select("checkpoint_epoch").collect()}
    assert epochs == set(range(12))


def test_rolling_tombstone_gc_bounds_tombstones_on_ordered_log(spark, tmp_path):
    """In-order delivery (the case where a retain window is sound): rolling
    GC keeps the stored tombstone count bounded by the retain window while
    cumulative deletes grow, without disturbing live state."""
    from ton_etl_spark.lake.maintenance import rolling_maintenance

    t = make_sequences_table(spark, str(tmp_path / "t"), n_buckets=4)
    n_epochs, per_epoch = 12, 20
    total_deletes = 0
    for e in range(n_epochs):
        base = e * 100
        rows = []
        for i in range(per_epoch):
            lsn = base + i
            rows.append((f"d{e}_{i}", "c", lsn, lsn, [i], 1, "web"))
        if e > 0:
            # delete half of the PREVIOUS epoch's docs, in order
            for i in range(0, per_epoch, 2):
                lsn = base + per_epoch + i
                rows.append((f"d{e-1}_{i}", "d", lsn, lsn, None, None, "web"))
                total_deletes += 1
        batch = spark.createDataFrame(rows, schema=CDC_EVENT_SCHEMA)
        apply_cdc_batch(t, batch, epoch=e)
        # retain window = 250 LSNs (~2.5 epochs of redelivery slack)
        rolling_maintenance(
            t, e, every=2, groups=2,
            rewrite=partial(gc_tombstones, horizon_lsn=base + 2 * per_epoch - 250),
        )
    raw = t.read()
    n_tomb = raw.where(F.col("op") == "d").count()
    assert total_deletes >= 100
    # without GC all 110 tombstones persist; with the rolling policy only
    # the retain window's worth survives: ~2.5 epochs of slack in the
    # just-rewritten bucket group plus up to ~2 more rounds in the group
    # awaiting its turn — ≤ ~5 epochs × 10 deletes, independent of runtime
    assert n_tomb <= 55, n_tomb
    # live state is exact: every doc not deleted survives
    live = {r["doc_id"] for r in read_state(t).collect()}
    expect = set()
    for e in range(n_epochs):
        for i in range(per_epoch):
            deleted = e < n_epochs - 1 and i % 2 == 0
            if not deleted:
                expect.add(f"d{e}_{i}")
    assert live == expect


def test_bucket_fn_mismatch_fails_loudly(spark, tmp_path):
    """A table recorded with a different bucket hash must refuse
    bucket-dependent operations instead of silently mis-pruning."""
    import json

    t = make_sequences_table(spark, str(tmp_path / "fn"), n_buckets=4)
    b = spark.createDataFrame(
        [("k1", "c", 1, 1, [1], 1, "web")], schema=CDC_EVENT_SCHEMA
    )
    apply_cdc_batch(t, b, epoch=0)
    # tamper: pretend the table was written by an engine with another hash
    p = t._snapshot_path(t.current_version())
    with open(p) as fh:
        d = json.load(fh)
    d["properties"]["bucket_fn"] = "xxhash64_v0"
    with open(p, "w") as fh:
        json.dump(d, fh)
    t2 = LakeTable.load(spark, str(tmp_path / "fn"))
    # full-table read is hash-independent and stays allowed
    assert t2.read().count() == 1
    with pytest.raises(ValueError, match="bucket_fn"):
        t2.read(buckets=[0])
    with pytest.raises(ValueError, match="bucket_fn"):
        apply_cdc_batch(t2, b, epoch=1)


def test_incremental_changes_between_snapshots(spark, tmp_path):
    """LakeTable.changes: insert/delete changelog between versions, pruned
    to buckets whose manifests differ; compaction yields no change rows."""
    t = make_sequences_table(spark, str(tmp_path / "ch"), n_buckets=4)
    b0 = spark.createDataFrame(
        [
            ("k1", "c", 1, 1, [1], 1, "web"),
            ("k2", "c", 2, 2, [2], 1, "web"),
        ],
        schema=CDC_EVENT_SCHEMA,
    )
    apply_cdc_batch(t, b0, epoch=0)
    v0 = t.current_version()
    b1 = spark.createDataFrame(
        [
            ("k2", "u", 3, 3, [9, 9], 2, "web"),   # update
            ("k3", "c", 4, 4, [4], 1, "web"),      # new key
            ("k1", "d", 5, 5, None, None, "web"),  # tombstone
        ],
        schema=CDC_EVENT_SCHEMA,
    )
    apply_cdc_batch(t, b1, epoch=1)
    v1 = t.current_version()

    ch = {(r["doc_id"], r["lsn"], r["_change_type"]) for r in t.changes(v0, v1).collect()}
    assert ch == {
        ("k2", 2, "delete"), ("k2", 3, "insert"),   # update = delete+insert
        ("k3", 4, "insert"),
        ("k1", 1, "delete"), ("k1", 5, "insert"),   # live row -> tombstone row
    }
    # compaction: manifests change, logical rows don't -> empty changelog
    rewrite_buckets(t, commit_key="compact-ch")
    v2 = t.current_version()
    assert t.changes(v1, v2).count() == 0
    # changes() defaults to current
    assert {(r["doc_id"], r["_change_type"]) for r in t.changes(v0).collect()} == {
        ("k2", "delete"), ("k2", "insert"), ("k3", "insert"),
        ("k1", "delete"), ("k1", "insert"),
    }


def test_watermark_covers_only_reserved_prefix(spark, tmp_path):
    """Watermark coverage is opt-in for the reserved streaming namespace
    ('epoch'): 'compact=3' must not be considered applied because stream
    epochs reached 'epoch=99', and — the silent-data-loss fix — an ad-hoc
    numeric key below another ad-hoc key's value must NOT be swallowed by
    a watermark, only deduplicated verbatim in the recent window."""
    t = make_sequences_table(spark, str(tmp_path / "pw"), n_buckets=2)
    for i in (98, 99):
        b = spark.createDataFrame(
            [("k", "u", i, i, [i], 1, "web")], schema=CDC_EVENT_SCHEMA
        )
        apply_cdc_batch(t, b, epoch=i)
    assert t.has_commit("epoch=99") and t.has_commit("epoch=5")
    assert not t.has_commit("compact=3")
    res = rewrite_buckets(t, commit_key="compact=7")
    assert res["applied"] is True
    # exact key dedups; LOWER numeric suffixes of a non-reserved prefix do
    # NOT become covered (out-of-order ad-hoc writers keep their commits)
    assert t.has_commit("compact=7")
    assert not t.has_commit("compact=3")
    assert rewrite_buckets(t, commit_key="compact=3")["applied"] is True
    assert not t.has_commit("compact=4")
    assert not t.has_commit("othersuite=1")
    # only the reserved prefix accrues a watermark
    assert t.current().commit_watermarks == {"epoch": 99}


def test_target_file_rows_splits_hot_buckets(spark, tmp_path):
    """A table created with target_file_rows bounds every data file at that
    row count — the merge write splits a hot bucket into N manifest-
    registered files (intra-task maxRecordsPerFile, so the pre-partitioned
    zero-exchange plan is untouched), and compaction rewrites respect the
    same bound instead of collapsing a big bucket into one straggler file."""
    from ton_etl_spark.cdc.apply import final_state_oracle, read_state
    from ton_etl_spark.cdc.generator import generate_cdc_log

    t = make_sequences_table(
        spark, str(tmp_path / "t"), n_buckets=4, target_file_rows=100
    )
    log = generate_cdc_log(spark, 8000, seed=11)
    apply_cdc_batch(t, log, epoch=0)
    files = t.current().files
    assert all(f.rows <= 100 for f in files), sorted(f.rows for f in files)
    per_bucket: dict[int, int] = {}
    for f in files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert max(per_bucket.values()) >= 2  # a hot bucket really split
    # multi-file buckets read back to the exact merged state
    got = {r["doc_id"]: r["lsn"] for r in read_state(t).collect()}
    want = {r["doc_id"]: r["lsn"] for r in final_state_oracle(log).collect()}
    assert got == want
    # compaction keeps the bound (the old behavior was 1 file/bucket)
    res = rewrite_buckets(t, commit_key="compact=1")
    assert res["applied"]
    files2 = t.current().files
    assert all(f.rows <= 100 for f in files2), sorted(f.rows for f in files2)
    assert sum(f.rows for f in files2) >= len(want)


def test_rebucket_mid_stream_preserves_replay_equality(spark, tmp_path):
    """Double n_buckets between ingest epochs: the next merges pick up the
    new count from the snapshot, replay equality holds, tombstones and
    time travel survive, and the new layout is one file per new bucket."""
    from ton_etl_spark.cdc.apply import final_state_oracle
    from ton_etl_spark.cdc.generator import generate_cdc_log
    from ton_etl_spark.lake.maintenance import rebucket

    log = generate_cdc_log(spark, 6_000, seed=51)
    t = make_sequences_table(spark, str(tmp_path / "rb"), n_buckets=4)
    batches = log.randomSplit([1.0] * 4, seed=51)
    for e in (0, 1):
        apply_cdc_batch(t, batches[e], epoch=e)
    v_before = t.current_version()
    raw_before = t.read().count()  # incl. tombstones

    res = rebucket(t, 8, commit_key="rebucket=1")
    assert res["applied"] and res["n_buckets"] == 8
    assert t.current().n_buckets == 8
    assert t.read().count() == raw_before  # tombstones NOT dropped
    # idempotent on commit key
    assert rebucket(t, 8, commit_key="rebucket=1")["applied"] is False
    # no-op when the count already matches
    assert rebucket(t, 8)["applied"] is False

    for e in (2, 3):
        apply_cdc_batch(t, batches[e], epoch=e)
    want = [r.asDict() for r in final_state_oracle(log).orderBy("doc_id").collect()]
    got = [r.asDict() for r in read_state(t).orderBy("doc_id").collect()]
    assert got == want

    # post-merge layout: one file per touched NEW bucket, buckets < 8
    per_bucket = {}
    for f in t.current().files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert per_bucket and max(per_bucket) < 8 and all(n == 1 for n in per_bucket.values())
    # time travel to the pre-rebucket snapshot still prunes with the OLD count
    old = t.snapshot(v_before)
    assert old.n_buckets == 4
    assert t.read(version=v_before).count() == raw_before


def test_rebucket_loses_cas_to_concurrent_writer(spark, tmp_path):
    """A rebucket planned against a stale base must NOT clobber a
    concurrently-committed epoch: the CAS publish raises and the table
    keeps the winner's state (re-derive, never rebase — its rows are
    stale)."""
    import pytest as _pytest

    from ton_etl_spark.lake import maintenance as mmod
    from ton_etl_spark.lake.table import CommitConflictError

    t = make_sequences_table(spark, str(tmp_path / "race"), n_buckets=4)
    apply_cdc_batch(
        t,
        spark.createDataFrame([("a", "c", 1, 1, [1], 1, "web")], CDC_EVENT_SCHEMA),
        epoch=0,
    )

    real_write = t._write_commit_files

    def write_and_race(*a, **k):
        # one-shot: restore FIRST so the racing epoch's own commit (and any
        # later write) goes through the real path, not back into this hook
        t._write_commit_files = real_write
        files = real_write(*a, **k)
        # a concurrent epoch commits AFTER the rebucket read its base
        # snapshot and wrote its data files, BEFORE its CAS publish
        apply_cdc_batch(
            t,
            spark.createDataFrame([("b", "c", 2, 2, [2], 1, "web")], CDC_EVENT_SCHEMA),
            epoch=1,
        )
        return files

    t._write_commit_files = write_and_race
    try:
        with _pytest.raises(CommitConflictError):
            mmod.rebucket(t, 8)
    finally:
        t._write_commit_files = real_write
    # winner intact, layout unchanged, rebucket left no trace in metadata
    assert t.current().n_buckets == 4
    assert sorted(r["doc_id"] for r in read_state(t).collect()) == ["a", "b"]
    # a clean retry from the new state succeeds
    assert mmod.rebucket(t, 8)["applied"]
    assert t.current().n_buckets == 8
    assert sorted(r["doc_id"] for r in read_state(t).collect()) == ["a", "b"]


def test_rebucket_rebases_over_commit_key_only_append(spark, tmp_path):
    """An interleaved commit that only records a commit key (the mart
    refresh's empty append) touches no bucket and keeps the schema, so a
    rebucket that loses the CAS to it rebases instead of failing — and
    keeps the interleaved key."""
    from ton_etl_spark.lake import maintenance as mmod
    from tests.test_concurrency import _hooked_publish

    t = make_sequences_table(spark, str(tmp_path / "rb"), n_buckets=4)
    apply_cdc_batch(
        t,
        spark.createDataFrame(
            [("a", "c", 1, 1, [1], 1, "web"), ("b", "c", 2, 2, [2], 1, "web")],
            CDC_EVENT_SCHEMA,
        ),
        epoch=0,
    )
    rows_before = sorted(map(tuple, t.read().collect()))
    v0 = t.current_version()
    other = LakeTable.load(spark, t.root)
    _hooked_publish(
        t,
        lambda: other.append(
            spark.createDataFrame([], other.current().schema),
            commit_key="martsync=0-1",
        ),
    )
    res = mmod.rebucket(t, 8, commit_key="rebucket=1")
    assert res["applied"] and res["n_buckets"] == 8
    snap = t.current()
    assert snap.version == v0 + 2  # the empty append, then the rebased rebucket
    assert snap.n_buckets == 8
    assert snap.has_commit_key("martsync=0-1") and snap.has_commit_key("rebucket=1")
    assert sorted(map(tuple, t.read().collect())) == rows_before


def test_append_never_rebases_over_rebucket(spark, tmp_path):
    """An append's files are bucketed under the layout it read; rebased
    onto a rebucketed snapshot their bucket ids would name other buckets
    and key-pruned reads would miss rows — so the append must conflict."""
    from ton_etl_spark.lake import maintenance as mmod
    from ton_etl_spark.lake.table import CommitConflictError
    from tests.test_concurrency import _hooked_publish

    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "ar"), schema=schema,
                         key_cols=["k"], n_buckets=2)
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(8)], schema))
    other = LakeTable.load(spark, t.root)
    _hooked_publish(t, lambda: mmod.rebucket(other, 4))
    with pytest.raises(CommitConflictError, match="bucket layout changed"):
        t.append(spark.createDataFrame([(f"n{i}", i) for i in range(8)], schema))
    assert t.current().n_buckets == 4 and t.read().count() == 8


def test_delete_where_prunes_untouched_buckets(spark, tmp_path):
    """Range delete rewrites only buckets whose file bounds intersect the
    range; everything else keeps its manifest pointer (metadata proof of
    pruning), and NULL rows in the range column always survive."""
    from ton_etl_spark.lake.maintenance import delete_where

    df = spark.range(2000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 100 == 0, F.lit(None)).otherwise(F.col("id")).alias("lsn"),
    )
    t = LakeTable.create(
        spark, str(tmp_path / "dw"), schema=df.schema, key_cols=["k"],
        n_buckets=4, stats_cols=["lsn"], sort_cols=["lsn"], target_file_rows=100,
    )
    t.append(df, commit_key="seed")
    before = dict(t.current().manifests)

    # out-of-domain range: nothing intersects, nothing commits
    r0 = delete_where(t, {"lsn": (10_000, 20_000)}, commit_key="d0")
    assert r0["applied"] is False and r0["deleted_rows"] == 0
    assert dict(t.current().manifests) == before

    r = delete_where(t, {"lsn": (150, 249)}, commit_key="d1")
    assert r["applied"]
    want_deleted = sum(1 for i in range(150, 250) if i % 100 != 0)
    assert r["deleted_rows"] == want_deleted
    got = t.read()
    assert got.where("lsn between 150 and 249").count() == 0
    # NULL-lsn rows all survive, including those whose k sits in the range
    assert got.where("lsn is null").count() == 20
    assert got.count() == 2000 - want_deleted
    # open-ended upper range (keys hash across all buckets, so all rewrite)
    r2 = delete_where(t, {"lsn": (1990, None)}, commit_key="d2")
    assert r2["applied"] and r2["deleted_rows"] == 10  # 1990..1999, none NULL
    # idempotent replay
    assert delete_where(t, {"lsn": (150, 249)}, commit_key="d1")["applied"] is False


def test_delete_where_touches_only_intersecting_buckets(spark, tmp_path):
    """Partial pruning proof: lsn is constructed to correlate with the
    storage bucket (lsn = bucket*1000 + i), so a sub-1000 range must
    rewrite bucket 0 ONLY — the other manifests stay untouched and their
    files can even be corrupted without the delete noticing them."""
    from ton_etl_spark.lake.maintenance import delete_where
    from ton_etl_spark.lake.table import bucket_of

    df = spark.range(2000).select(F.col("id").alias("k")).withColumn(
        "lsn", bucket_of(["k"], 4).cast("long") * 1000 + F.col("k") % 1000
    )
    t = LakeTable.create(
        spark, str(tmp_path / "dwp"), schema=df.schema, key_cols=["k"],
        n_buckets=4, stats_cols=["lsn"], target_file_rows=200,
    )
    t.append(df, commit_key="seed")
    before = dict(t.current().manifests)
    for f in t.current().files:
        if f.bucket != 0:  # corrupt everything the delete must not open
            with open(os.path.join(t.root, f.path), "wb") as fh:
                fh.write(b"corrupt")
    r = delete_where(t, {"lsn": (None, 999)}, commit_key="d")
    assert r["applied"] and r["buckets"] == [0] and r["deleted_rows"] > 0
    snap = t.current()
    assert all(snap.manifests[b] == before[b] for b in (1, 2, 3))
    # bucket 0's lsn space is fully below 1000 => emptied, manifest dropped
    assert snap.manifests.get(0) != before[0]
    assert 0 not in {f.bucket for f in snap.files}


def test_delete_where_guards_tombstones_and_degenerate_ranges(spark, tmp_path):
    from ton_etl_spark.lake.maintenance import delete_where

    df = spark.createDataFrame(
        [(1, 10, "u"), (2, 20, "d"), (3, 30, "u")], "k long, lsn long, op string"
    )
    t = LakeTable.create(spark, str(tmp_path / "dwt"), schema=df.schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["lsn"])
    t.append(df, commit_key="seed")
    with pytest.raises(ValueError, match="bounded range"):
        delete_where(t, {})
    with pytest.raises(ValueError, match="bounded range"):
        delete_where(t, {"lsn": (None, None)})
    # tombstone at lsn=20 sits inside the range but survives by default —
    # dropping it would re-open the redelivery resurrection window
    r = delete_where(t, {"lsn": (0, 100)}, commit_key="d1")
    assert r["deleted_rows"] == 2
    assert [x["op"] for x in t.read().collect()] == ["d"]
    # opt-out follows gc_tombstones' horizon contract ownership
    r2 = delete_where(t, {"lsn": (0, 100)}, commit_key="d2",
                      protect_tombstones=False)
    assert r2["deleted_rows"] == 1 and t.read().count() == 0


def test_delete_where_property_random_ranges(spark, tmp_path):
    """Property: delete_where(range) leaves exactly the rows a Python
    filter keeps, across random inclusive/open ranges."""
    import random

    from ton_etl_spark.lake.maintenance import delete_where

    rnd = random.Random(7)
    vals = [(i, rnd.randint(-50, 50) if rnd.random() > 0.1 else None)
            for i in range(500)]
    df = spark.createDataFrame(vals, "k long, v long")
    t = LakeTable.create(spark, str(tmp_path / "dwr"), schema=df.schema,
                         key_cols=["k"], n_buckets=4, stats_cols=["v"],
                         sort_cols=["v"], target_file_rows=50)
    t.append(df, commit_key="seed")
    live = dict(vals)
    for trial in range(6):
        lo = rnd.choice([None, rnd.randint(-60, 60)])
        hi = rnd.randint(lo if lo is not None else -60, 60)
        if rnd.random() < 0.3:
            lo, hi = hi, None
        r = delete_where(t, {"v": (lo, hi)}, commit_key=f"t{trial}")
        live = {k: v for k, v in live.items()
                if v is None
                or (lo is not None and v < lo)
                or (hi is not None and v > hi)}
        got = {x["k"]: x["v"] for x in t.read().collect()}
        assert got == live, (trial, lo, hi)
        assert r["deleted_rows"] >= 0


def test_delete_where_file_granular_rewrites_only_hit_files(spark, tmp_path):
    """file_granular=True: files whose bounds exclude the range survive
    with their exact paths (path identity proves they were neither read
    nor rewritten); results equal the bucket-granular delete on a twin
    table, and time travel still sees the pre-delete rows."""
    from ton_etl_spark.lake.maintenance import delete_where

    def build(root):
        df = spark.range(2000).select(F.col("id").alias("k"),
                                      F.col("id").alias("lsn"))
        t = LakeTable.create(spark, root, schema=df.schema, key_cols=["k"],
                             n_buckets=2, stats_cols=["lsn"],
                             sort_cols=["lsn"], target_file_rows=100)
        t.append(df, commit_key="seed")
        return t

    tf = build(str(tmp_path / "fg"))
    tb = build(str(tmp_path / "bg"))
    paths_before = {f.path for f in tf.current().files}
    hit_before = {f.path for f in tf.current().files
                  if not (f.stats["lsn"][1] < 300 or f.stats["lsn"][0] > 449)}

    rf = delete_where(tf, {"lsn": (300, 449)}, commit_key="d",
                      file_granular=True)
    rb = delete_where(tb, {"lsn": (300, 449)}, commit_key="d")
    assert rf["applied"] and rb["applied"]
    assert rf["deleted_rows"] == rb["deleted_rows"] == 150

    paths_after = {f.path for f in tf.current().files}
    # every non-intersecting file survived AS-IS; every hit file is gone
    assert paths_before - hit_before <= paths_after
    assert not (hit_before & paths_after)
    # file-granular rewrote strictly fewer bytes than it kept
    assert len(paths_before - hit_before) > len(paths_after - paths_before)

    got_f = sorted(r["k"] for r in tf.read().collect())
    got_b = sorted(r["k"] for r in tb.read().collect())
    assert got_f == got_b == [i for i in range(2000) if not 300 <= i <= 449]

    # time travel to the pre-delete snapshot still sees everything
    assert tf.read(version=1).count() == 2000


def test_delete_where_in_key_list(spark, tmp_path):
    """Round-6 per-key delete (GDPR role): where_in deletes exactly the
    probed keys; a key-covering probe prunes candidate BUCKETS (proven by
    corrupting every file in every non-candidate bucket) and in-list file
    skipping prunes within them; file_granular keeps non-hit files by
    path identity."""
    import os

    from ton_etl_spark.lake.maintenance import delete_where

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t = LakeTable.create(
        spark, str(tmp_path / "din"), schema=df.schema, key_cols=["k"],
        n_buckets=4, stats_cols=["k"], sort_cols=["k"], target_file_rows=100,
    )
    t.append(df, commit_key="seed")
    snap = t.current()

    victims = [42, 43, 1999]
    cand = t._probe_buckets(snap, {"k": victims})
    assert cand is not None and len(cand) < 4
    untouched_files = {f.path for f in snap.files if f.bucket not in cand}
    for p in untouched_files:
        with open(os.path.join(t.root, p), "wb") as fh:
            fh.write(b"corrupt")

    r = delete_where(t, where_in={"k": victims}, commit_key="g1",
                     file_granular=True)
    assert r["applied"] and r["deleted_rows"] == 3
    assert set(r["buckets"]) <= set(cand)
    after = t.current()
    # non-candidate buckets: manifests untouched (their corrupt files
    # were never opened); candidate buckets: non-hit files carried by
    # path identity
    for f in after.files:
        if f.bucket not in cand:
            assert f.path in untouched_files
    kept_hit_bucket_files = {
        f.path for f in after.files if f.bucket in cand
    } & {f.path for f in snap.files}
    assert kept_hit_bucket_files  # at least one pre-existing file survived

    # exactness on the surviving (readable) buckets: one job maps every
    # key to its storage bucket, then membership decides the expectation
    from ton_etl_spark.lake.table import bucket_of

    k2b = {
        r["k"]: r["b"]
        for r in spark.range(2000).select(
            F.col("id").alias("k"), bucket_of(["k"], snap.n_buckets).alias("b")
        ).collect()
    }
    got = sorted(r["k"] for r in t.read(buckets=list(cand)).collect())
    want = sorted(
        k for k in range(2000) if k not in victims and k2b[k] in cand
    )
    assert got == want

    # idempotency + empty probe no-op + validation
    assert delete_where(t, where_in={"k": victims}, commit_key="g1")["applied"] is False
    assert delete_where(t, where_in={"k": []})["applied"] is False
    with pytest.raises(ValueError, match="range or a where_in"):
        delete_where(t)


def test_delete_where_in_composes_with_range(spark, tmp_path):
    """where_in ANDs with where: delete only the probed tags inside the
    range; NULL probe values never match (NULL rows kept)."""
    from ton_etl_spark.lake.maintenance import delete_where

    rows = [(i, i if i % 50 else None, f"t{i % 7}") for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, lsn long, tag string")
    t = LakeTable.create(
        spark, str(tmp_path / "dinr"), schema=df.schema, key_cols=["k"],
        n_buckets=2, stats_cols=["lsn"], sort_cols=["lsn"], target_file_rows=100,
    )
    t.append(df, commit_key="seed")
    r = delete_where(t, {"lsn": (100, 300)}, where_in={"tag": ["t3", None]},
                     commit_key="d1")
    want_deleted = sum(
        1 for k, lsn, tag in rows
        if lsn is not None and 100 <= lsn <= 300 and tag == "t3"
    )
    assert r["deleted_rows"] == want_deleted
    got = {(x["k"], x["tag"]) for x in t.read().collect()}
    want = {(k, tag) for k, lsn, tag in rows
            if not (lsn is not None and 100 <= lsn <= 300 and tag == "t3")}
    assert got == want


def test_binpack_never_opens_wellsized_files(spark, tmp_path):
    """Bin-pack compaction coalesces only the small files; well-sized
    files are carried by reference — proven by CORRUPTING every
    above-threshold file on disk before packing.  Maintenance I/O is then
    proportional to the new data, not the bucket size (the 100 TB
    write-amplification fix over rewrite_buckets)."""
    from ton_etl_spark.lake.maintenance import compact_small_files

    schema = spark.createDataFrame([], "k long, v string").schema
    t = LakeTable.create(spark, str(tmp_path / "bp"), schema=schema,
                         key_cols=["k"], n_buckets=2, target_file_rows=200)
    # one big commit (≈250 rows/bucket => files ≥ 100-row threshold) ...
    t.append(spark.range(500).selectExpr("id AS k", "concat('v', id) AS v"),
             commit_key="big")
    # ... then sliver appends, one small file per bucket per epoch
    for i in range(4):
        t.append(spark.range(500 + i * 10, 510 + i * 10)
                 .selectExpr("id AS k", "concat('v', id) AS v"),
                 commit_key=f"sliver-{i}")
    snap = t.current()
    big = [f for f in snap.files if f.rows >= 100]
    small = [f for f in snap.files if f.rows < 100]
    assert big and len(small) >= 4
    want = sorted((r["k"], r["v"]) for r in t.read().collect())

    for f in big:  # corrupt: packing must never open these
        with open(os.path.join(t.root, f.path), "wb") as fh:
            fh.write(b"corrupt")
    res = compact_small_files(t, small_rows=100, commit_key="bp1")
    assert res["applied"] and res["packed_files"] == len(small)

    snap2 = t.current()
    # big files survive by reference in the new manifests
    assert {f.path for f in big} <= {f.path for f in snap2.files}
    small_after = [f for f in snap2.files if f.path not in {g.path for g in big}]
    assert len(small_after) < len(small)  # slivers coalesced
    # content equality end-to-end on an un-corrupted twin:
    t2 = LakeTable.create(spark, str(tmp_path / "bp2"), schema=schema,
                          key_cols=["k"], n_buckets=2, target_file_rows=200)
    t2.append(spark.range(500).selectExpr("id AS k", "concat('v', id) AS v"),
              commit_key="big")
    for i in range(4):
        t2.append(spark.range(500 + i * 10, 510 + i * 10)
                  .selectExpr("id AS k", "concat('v', id) AS v"),
                  commit_key=f"sliver-{i}")
    res2 = compact_small_files(t2, small_rows=100, commit_key="bp1")
    assert res2["applied"]
    got = sorted((r["k"], r["v"]) for r in t2.read().collect())
    assert got == want
    # idempotent on commit_key; quiet table packs nothing
    assert compact_small_files(t2, small_rows=100, commit_key="bp1")["applied"] is False
    res3 = compact_small_files(t2, small_rows=100, commit_key="bp2")
    assert res3["applied"] is False and res3["packed_files"] == 0


def test_rolling_maintenance_binpack_strategy(spark, tmp_path):
    """rolling_maintenance(rewrite=compact_small_files) packs one rolling
    group's slivers per cycle."""
    from ton_etl_spark.lake.maintenance import compact_small_files, rolling_maintenance

    schema = spark.createDataFrame([], "k long, v string").schema
    t = LakeTable.create(spark, str(tmp_path / "rbp"), schema=schema,
                         key_cols=["k"], n_buckets=4, target_file_rows=200)
    t.append(spark.range(1000).selectExpr("id AS k", "concat('v', id) AS v"),
             commit_key="big")
    for i in range(3):
        t.append(spark.range(1000 + i * 20, 1020 + i * 20)
                 .selectExpr("id AS k", "concat('v', id) AS v"),
                 commit_key=f"s{i}")

    before = dict(t.current().manifests)
    r = rolling_maintenance(t, epoch=7, every=8, groups=2,
                            rewrite=partial(compact_small_files, small_rows=100))
    assert r["applied"] and set(r["buckets"]) <= {0, 2}  # group 0 of 2
    snap = t.current()
    assert snap.manifests[1] == before[1]  # other group untouched
    assert snap.manifests[3] == before[3]
    assert t.read().count() == 1060


def test_update_where_rewrites_only_matching_rows(spark, tmp_path):
    """update_where: matched rows get the set expressions (cast to the
    column's type), every other row — including NULL-predicate rows and
    non-matching rows in touched files — reads back byte-identical;
    updated_rows is the exact matched count; commit-key re-run is a
    no-op."""
    import random

    from ton_etl_spark.lake.maintenance import update_where

    rnd = random.Random(11)
    rows = [(i, rnd.randint(0, 100) if rnd.random() > 0.1 else None,
             f"text-{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "k long, score long, text string")
    t = LakeTable.create(spark, str(tmp_path / "uw"), schema=df.schema,
                         key_cols=["k"], n_buckets=4, stats_cols=["score"],
                         sort_cols=["score"], target_file_rows=50)
    t.append(df, commit_key="seed")

    r = update_where(
        t, {"text": "concat('REDACTED-', k)", "score": F.lit(-1)},
        where={"score": (90, None)}, commit_key="u1",
    )
    want_hit = [k for k, s, _ in rows if s is not None and s >= 90]
    assert r["applied"] and r["updated_rows"] == len(want_hit)
    got = {x.k: (x.score, x.text) for x in t.read().collect()}
    for k, s, txt in rows:
        if s is not None and s >= 90:
            assert got[k] == (-1, f"REDACTED-{k}"), k
        else:
            assert got[k] == (s, txt), k  # NULL scores untouched too
    # idempotent on commit key
    assert update_where(t, {"text": F.lit("x")}, where={"score": (90, None)},
                        commit_key="u1")["applied"] is False


def test_update_where_file_granular_never_opens_excluded_files(spark, tmp_path):
    """file_granular: files whose bounds exclude the predicate are carried
    into the new manifest UNREAD — proven by corrupting them — and kept
    by path identity."""
    import os

    from ton_etl_spark.lake.maintenance import update_where

    df = spark.range(1000).selectExpr("id AS k", "id AS lsn",
                                      "concat('v', id) AS v")
    t = LakeTable.create(spark, str(tmp_path / "uwf"), schema=df.schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["lsn"],
                         sort_cols=["lsn"], target_file_rows=100)
    t.append(df, commit_key="seed")
    untouched = []
    for f in t.current().files:
        if f.stats and "lsn" in f.stats and f.stats["lsn"][1] < 900:
            with open(os.path.join(t.root, f.path), "wb") as fh:
                fh.write(b"corrupt - update must not open me")
            untouched.append(f.path)
    assert len(untouched) >= 8

    r = update_where(t, {"v": "upper(v)"}, where={"lsn": (900, None)},
                     file_granular=True, commit_key="u-fg")
    assert r["applied"] and r["updated_rows"] == 100
    kept = {f.path for f in t.current().files}
    assert set(untouched) <= kept, "excluded files were rewritten"
    live = t.read(where={"lsn": (900, None)}).collect()
    assert sorted(x.v for x in live) == sorted(f"V{i}" for i in range(900, 1000))


def test_update_where_input_guards(spark, tmp_path):
    from ton_etl_spark.lake.maintenance import update_where

    df = spark.range(10).selectExpr("id AS k", "id AS v")
    t = LakeTable.create(spark, str(tmp_path / "uwg"), schema=df.schema,
                         key_cols=["k"], n_buckets=2)
    t.append(df, commit_key="s")
    with pytest.raises(ValueError, match="key columns"):
        update_where(t, {"k": F.lit(0)}, where_in={"k": [1]})
    with pytest.raises(ValueError, match="not in schema"):
        update_where(t, {"nope": F.lit(0)}, where_in={"k": [1]})
    with pytest.raises(ValueError, match="bounded range"):
        update_where(t, {"v": F.lit(0)}, where={"v": (None, None)})
    with pytest.raises(ValueError, match="at least one"):
        update_where(t, {"v": F.lit(0)})
    # set expression is cast to the column type (schema never drifts)
    update_where(t, {"v": "'7'"}, where_in={"k": [3]}, commit_key="c")
    assert t.current().schema["v"].dataType.simpleString() == "bigint"
    assert t.read().where("k = 3").collect()[0].v == 7
