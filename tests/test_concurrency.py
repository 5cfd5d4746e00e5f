"""Concurrency + property tests for the LWW merge.

- Two tables merged from concurrent threads in ONE SparkSession: the
  child-session conf isolation must keep both bucket layouts intact and
  leave the shared session conf untouched (the round-1 global-conf
  mutation raced exactly here).
- Hypothesis property: ANY delivery order / duplication of a change log
  converges to the same final state as the one-pass oracle (LWW is
  order-insensitive by construction).
"""

import threading

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ton_etl_spark.cdc.apply import apply_cdc_batch, final_state_oracle, make_sequences_table, read_state
from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA


def test_concurrent_merges_different_tables(spark, tmp_path):
    from ton_etl_spark.cdc.generator import generate_cdc_log

    n_tables = 3
    logs = [generate_cdc_log(spark, 3000, seed=30 + i) for i in range(n_tables)]
    tables = [
        make_sequences_table(spark, str(tmp_path / f"t{i}"), n_buckets=8)
        for i in range(n_tables)
    ]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    errors: list[Exception] = []

    def _merge(i: int) -> None:
        try:
            apply_cdc_batch(tables[i], logs[i], epoch=0)
        except Exception as e:  # pragma: no cover - surfaced via assert below
            errors.append(e)

    threads = [threading.Thread(target=_merge, args=(i,)) for i in range(n_tables)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    for i, t in enumerate(tables):
        want = [r.asDict() for r in final_state_oracle(logs[i]).orderBy("doc_id").collect()]
        got = [r.asDict() for r in read_state(t).orderBy("doc_id").collect()]
        assert got == want
        per_bucket: dict[int, int] = {}
        for f in t.current().files:
            per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
        assert per_bucket and all(n == 1 for n in per_bucket.values())


# one event = (doc 0-3, op, lsn 0-30, ts) — tiny domain forces key collisions,
# duplicate lsns across docs, and op ties
_event = st.tuples(
    st.integers(0, 3),
    st.sampled_from(["c", "r", "u", "d"]),
    st.integers(0, 30),
    st.integers(0, 5),
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(_event, min_size=1, max_size=25),
    order=st.randoms(use_true_random=False),
    n_batches=st.integers(1, 4),
)
def test_lww_any_delivery_order_converges(spark, tmp_path_factory, events, order, n_batches):
    rows = [
        (f"d{d}", op, lsn, 1000 + ts, None if op == "d" else [lsn], None if op == "d" else 1, "web")
        for d, op, lsn, ts in events
    ]
    log = spark.createDataFrame(rows, CDC_EVENT_SCHEMA)
    want = [r.asDict() for r in final_state_oracle(log).orderBy("doc_id", "lsn").collect()]

    # shuffled + duplicated delivery, split into arbitrary batches
    delivered = list(rows) + rows[: len(rows) // 2]
    order.shuffle(delivered)
    root = tmp_path_factory.mktemp("lww")
    table = make_sequences_table(spark, str(root / "t"), n_buckets=4)
    size = max(1, len(delivered) // n_batches)
    for epoch, start in enumerate(range(0, len(delivered), size)):
        chunk = spark.createDataFrame(delivered[start : start + size], CDC_EVENT_SCHEMA)
        apply_cdc_batch(table, chunk, epoch=epoch)
    got = [r.asDict() for r in read_state(table).orderBy("doc_id", "lsn").collect()]
    assert got == want


def test_commit_conflict_raised_not_silent(spark, tmp_path):
    """Two writers planned against the same base version: the second
    publish must raise CommitConflictError, never last-write-wins the
    _current pointer over the first writer's committed snapshot."""
    import pytest

    from ton_etl_spark.lake.table import CommitConflictError, LakeTable, Snapshot

    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=schema, key_cols=["k"], n_buckets=2)
    t.append(spark.createDataFrame([("a", 1)], schema), commit_key="w-a")  # v1
    base = t.current()  # writer A plans against v1
    t.append(spark.createDataFrame([("b", 2)], schema), commit_key="w-b")  # v2 (writer B wins)
    stale = Snapshot(
        version=base.version + 1,
        schema_json=base.schema_json,
        n_buckets=base.n_buckets,
        key_cols=base.key_cols,
        manifests=dict(base.manifests),
        commit_watermarks=dict(base.commit_watermarks),
        recent_commit_keys=list(base.recent_commit_keys),
        properties=dict(base.properties),
    )
    with pytest.raises(CommitConflictError, match="another\\s+writer committed first"):
        t._publish(stale)
    # writer B's snapshot survived; nothing was dropped
    assert t.current_version() == 2
    assert {r["k"] for r in t.read().collect()} == {"a", "b"}
    # a double-create on a live table is also a conflict, not a reset
    with pytest.raises(CommitConflictError):
        LakeTable.create(spark, str(tmp_path / "t"), schema=schema, key_cols=["k"], n_buckets=2)
    assert {r["k"] for r in t.read().collect()} == {"a", "b"}


def test_racing_writers_one_table_all_commits_survive(spark, tmp_path):
    """N threads appending to ONE table concurrently with a retry loop:
    every writer's rows land exactly once (losers retry from the new
    state), versions advance one per successful commit, and the conflict
    path is actually exercised."""
    from ton_etl_spark.lake.table import CommitConflictError, LakeTable

    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "race"), schema=schema, key_cols=["k"], n_buckets=2)
    n_writers, errors = 6, []

    def _write(i: int) -> None:
        try:
            for _attempt in range(20):
                try:
                    assert t.append(
                        spark.createDataFrame([(f"w{i}", i)], schema),
                        commit_key=f"writer-{i}",
                    )
                    return
                except CommitConflictError:
                    continue
            raise AssertionError(f"writer {i} starved after 20 attempts")
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=_write, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.current_version() == n_writers  # one version per commit, none lost
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {f"w{i}": i for i in range(n_writers)}
    # idempotency records survived the races too
    assert all(t.has_commit(f"writer-{i}") for i in range(n_writers))


def test_get_or_create_loser_loads_instead_of_crashing(spark, tmp_path, monkeypatch):
    """Two processes booting against the same fresh root race exists()/create:
    the CAS makes the slower create raise CommitConflictError — get_or_create
    must treat that as 'the table now exists' and load it, not fail startup."""
    from ton_etl_spark.lake.table import LakeTable

    schema = spark.createDataFrame([], "k string, v long").schema
    root = str(tmp_path / "goc")
    t = LakeTable.create(spark, root, schema=schema, key_cols=["k"], n_buckets=2)
    t.append(spark.createDataFrame([("a", 1)], schema), commit_key="seed")
    # simulate the loser: its exists() check ran before the winner published
    monkeypatch.setattr(LakeTable, "exists", classmethod(lambda cls, r: False))
    got = LakeTable.get_or_create(spark, root, schema=schema, key_cols=["k"], n_buckets=2)
    assert {r["k"] for r in got.read().collect()} == {"a"}  # winner's data intact
    assert got.current_version() == t.current_version()


def test_get_or_create_warns_on_divergent_kwargs(spark, tmp_path, caplog):
    """ADVICE r4: when the table already exists, get_or_create ignores the
    create_kwargs — silently.  A caller asking for different n_buckets /
    stats_cols than the stored snapshot must at least get a log warning,
    or file skipping stays inactive with nobody noticing."""
    import logging

    from ton_etl_spark.lake.table import LakeTable

    schema = spark.createDataFrame([], "k string, lsn long").schema
    root = str(tmp_path / "gocw")
    LakeTable.create(spark, root, schema=schema, key_cols=["k"], n_buckets=2)
    with caplog.at_level(logging.WARNING, logger="ton_etl_spark.lake.table"):
        LakeTable.get_or_create(
            spark, root, schema=schema, key_cols=["k"], n_buckets=8,
            stats_cols=["lsn"], sort_cols=["lsn"], target_file_rows=1000,
        )
    msgs = [r.message for r in caplog.records if "IGNORED" in r.message]
    assert msgs and "n_buckets" in msgs[0] and "stats_cols" in msgs[0]
    # matching kwargs stay silent
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="ton_etl_spark.lake.table"):
        LakeTable.get_or_create(spark, root, schema=schema, key_cols=["k"], n_buckets=2)
    assert not [r for r in caplog.records if "IGNORED" in r.message]


def test_concurrent_appends_rebase_metadata_only(spark, tmp_path):
    """Appends are order-independent, so a CAS loser rebases METADATA only:
    no external retry loop needed, every writer's rows land, and — the
    point — each append's data files are written exactly once (one commit
    directory per writer; a retry that re-ran Spark would mint extra
    commit dirs)."""
    import os as _os

    from ton_etl_spark.lake.table import DATA_DIR, LakeTable

    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "reb"), schema=schema,
                         key_cols=["k"], n_buckets=2)
    n_writers, errors = 6, []

    def _write(i: int) -> None:
        try:
            # no retry loop: append itself must absorb the conflicts
            assert t.append(
                spark.createDataFrame([(f"w{i}", i)], schema),
                commit_key=f"reb-{i}",
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=_write, args=(i,)) for i in range(n_writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.current_version() == n_writers
    assert {r["k"]: r["v"] for r in t.read().collect()} == {
        f"w{i}": i for i in range(n_writers)
    }
    commit_dirs = [d for d in _os.listdir(_os.path.join(t.root, DATA_DIR))]
    assert len(commit_dirs) == n_writers  # data written once per append
    # duplicate-key replay after the races is still a no-op
    assert t.append(spark.createDataFrame([("dup", 0)], schema), commit_key="reb-3") is False


def _hooked_publish(loser, interleave):
    """Wrap ``loser._publish`` so the FIRST call runs ``interleave()``
    before publishing — a deterministic CAS race (the interleaved commit
    wins, the hooked writer must rebase or re-derive)."""
    real = loser._publish
    state = {"fired": False}

    def hooked(snap):
        if not state["fired"]:
            state["fired"] = True
            interleave()
        return real(snap)

    loser._publish = hooked


def test_disjoint_bucket_replacement_rebases_metadata_only(spark, tmp_path):
    """A compactor/merge losing the CAS to a commit that touched OTHER
    buckets re-points its already-written files instead of re-running
    Spark (partition-scoped conflict validation)."""
    from ton_etl_spark.lake.table import LakeTable, bucket_of

    schema = spark.createDataFrame([], "k string, v long").schema
    t1 = LakeTable.create(spark, str(tmp_path / "dj"), schema=schema,
                          key_cols=["k"], n_buckets=4)
    rows = [(f"k{i}", i) for i in range(40)]
    t1.append(spark.createDataFrame(rows, schema), commit_key="seed")
    by_bucket = {
        r["k"]: r["b"]
        for r in spark.createDataFrame(rows, schema)
        .withColumn("b", bucket_of(["k"], 4)).collect()
    }
    b_a = by_bucket["k0"]
    b_b = next(b for b in range(4) if b != b_a)

    t2 = LakeTable.load(spark, t1.root)
    df_b = t2.read(buckets=[b_b]).withColumn("v", F.col("v") + 1000)

    writes = {"n": 0}
    real_write = t2._write_commit_files

    def counting_write(*a, **kw):
        writes["n"] += 1
        return real_write(*a, **kw)

    t2._write_commit_files = counting_write
    _hooked_publish(
        t2,
        lambda: t1.overwrite_buckets(
            t1.read(buckets=[b_a]).withColumn("v", F.col("v") + 100),
            [b_a], commit_key="win-a", feed=False,
        ),
    )
    assert t2.overwrite_buckets(df_b, [b_b], commit_key="lose-b", feed=False)
    assert writes["n"] == 1  # data written exactly once: metadata-only rebase
    assert t1.current_version() == 3  # seed + winner + rebased loser
    snap = t1.current()
    assert snap.has_commit_key("win-a") and snap.has_commit_key("lose-b")
    got = {r["k"]: r["v"] for r in t1.read().collect()}
    for k, v in rows:
        want = v + (100 if by_bucket[k] == b_a else 1000 if by_bucket[k] == b_b else 0)
        assert got[k] == want, (k, got[k], want)


def test_overlapping_bucket_replacement_must_rederive(spark, tmp_path):
    """If the interleaved commit replaced one of OUR buckets, the surviving
    rows were computed from stale contents — rebase must refuse."""
    import pytest

    from ton_etl_spark.lake.table import CommitConflictError, LakeTable

    schema = spark.createDataFrame([], "k string, v long").schema
    t1 = LakeTable.create(spark, str(tmp_path / "ov"), schema=schema,
                          key_cols=["k"], n_buckets=4)
    t1.append(spark.createDataFrame([(f"k{i}", i) for i in range(40)], schema),
              commit_key="seed")
    t2 = LakeTable.load(spark, t1.root)
    df_b = t2.read(buckets=[0, 1]).withColumn("v", F.col("v") + 1000)
    _hooked_publish(
        t2,
        lambda: t1.overwrite_buckets(
            t1.read(buckets=[1]).withColumn("v", F.col("v") + 100),
            [1], commit_key="win-a", feed=False,
        ),
    )
    with pytest.raises(CommitConflictError, match="overlapping bucket"):
        t2.overwrite_buckets(df_b, [0, 1], commit_key="lose-b", feed=False)
    # the winner's state is intact and the loser left no snapshot behind
    snap = t1.current()
    assert snap.has_commit_key("win-a") and not snap.has_commit_key("lose-b")


def test_schema_divergent_replacement_must_rederive(spark, tmp_path):
    """An interleaved ADDITIVE schema evolution also blocks the rebase: the
    replacement's files lack the new column and were derived pre-evolution."""
    import pytest

    from ton_etl_spark.lake.table import CommitConflictError, LakeTable

    schema = spark.createDataFrame([], "k string, v long").schema
    wide = spark.createDataFrame([], "k string, v long, extra string").schema
    t1 = LakeTable.create(spark, str(tmp_path / "sd"), schema=schema,
                          key_cols=["k"], n_buckets=2)
    t1.append(spark.createDataFrame([(f"k{i}", i) for i in range(8)], schema),
              commit_key="seed")
    t2 = LakeTable.load(spark, t1.root)
    df_b = t2.read(buckets=[0]).withColumn("v", F.col("v") + 1000)
    _hooked_publish(
        t2,
        lambda: t1.append(
            spark.createDataFrame([("zz", 99, "new")], wide), commit_key="widen"
        ),
    )
    with pytest.raises(CommitConflictError, match="schema changed"):
        t2.overwrite_buckets(df_b, [0], commit_key="lose-b", feed=False)


def test_replacement_race_on_same_commit_key_is_idempotent(spark, tmp_path):
    """If the interleaved winner applied the SAME commit_key (two workers
    replaying one epoch), the loser reports not-applied instead of
    double-committing."""
    from ton_etl_spark.lake.table import LakeTable

    schema = spark.createDataFrame([], "k string, v long").schema
    t1 = LakeTable.create(spark, str(tmp_path / "ik"), schema=schema,
                          key_cols=["k"], n_buckets=2)
    t1.append(spark.createDataFrame([(f"k{i}", i) for i in range(8)], schema),
              commit_key="seed")
    t2 = LakeTable.load(spark, t1.root)
    df = t2.read(buckets=[0]).withColumn("v", F.col("v") + 1000)
    _hooked_publish(
        t2,
        lambda: t1.overwrite_buckets(
            t1.read(buckets=[0]).withColumn("v", F.col("v") + 1000),
            [0], commit_key="epoch=7", feed=False,
        ),
    )
    assert t2.overwrite_buckets(df, [0], commit_key="epoch=7", feed=False) is False
    assert t1.current_version() == 2


def test_merge_epoch_absorbs_interleaved_compaction(spark, tmp_path):
    """The production race the rebase exists for: a background compactor
    commits while a streaming merge epoch is in flight.  The compaction
    touched none of the epoch's buckets, so the merge re-points its
    already-written files; final state still equals the one-pass oracle."""
    from ton_etl_spark.cdc.generator import generate_cdc_log
    from ton_etl_spark.lake.maintenance import rewrite_buckets
    from ton_etl_spark.lake.table import bucket_of

    log = generate_cdc_log(spark, 2000, seed=77)
    t = make_sequences_table(spark, str(tmp_path / "mc"), n_buckets=8)
    apply_cdc_batch(t, log, epoch=0)

    # epoch 1 touches only the buckets of a handful of keys; compact one
    # bucket OUTSIDE that set while the merge is between read and publish
    batch = log.where(F.col("doc_id").isin([r["doc_id"] for r in log.select("doc_id").distinct().limit(5).collect()]))
    touched = {
        r["b"]
        for r in batch.select(bucket_of(["doc_id"], 8).alias("b")).distinct().collect()
    }
    other = next(b for b in range(8) if b not in touched)
    _hooked_publish(
        t, lambda: rewrite_buckets(t, buckets=[other], commit_key="bg-compact")
    )
    res = apply_cdc_batch(t, batch, epoch=1)
    assert res["applied"]
    snap = t.current()
    assert snap.has_commit_key("bg-compact") and snap.has_commit_key("epoch=1")
    want = [r.asDict() for r in final_state_oracle(log).orderBy("doc_id").collect()]
    got = [r.asDict() for r in read_state(t).orderBy("doc_id").collect()]
    assert got == want


def test_racing_disjoint_replacements_all_commit(spark, tmp_path):
    """N threads each replacing its OWN bucket concurrently: every commit
    lands through the internal rebase (no caller retry loop), data files
    written once per writer."""
    from ton_etl_spark.lake.table import LakeTable

    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "race"), schema=schema,
                         key_cols=["k"], n_buckets=4)
    t.append(spark.createDataFrame([(f"k{i}", i) for i in range(40)], schema),
             commit_key="seed")
    base = t.current_version()
    errors: list[Exception] = []

    def _replace(b: int) -> None:
        try:
            df = t.read(buckets=[b]).withColumn("v", F.col("v") + 1000 * (b + 1))
            assert t.overwrite_buckets(df, [b], commit_key=f"rw-{b}",
                                       base_version=base, feed=False)
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=_replace, args=(b,)) for b in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    snap = t.current()
    assert snap.version == base + 4
    assert all(snap.has_commit_key(f"rw-{b}") for b in range(4))
    from ton_etl_spark.lake.table import bucket_of

    got = {r["k"]: r["v"] for r in t.read().collect()}
    buckets = {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(f"k{i}", i) for i in range(40)], schema)
        .withColumn("b", bucket_of(["k"], 4)).collect()
    }
    assert got == {f"k{i}": i + 1000 * (buckets[f"k{i}"] + 1) for i in range(40)}


def test_binpack_conflicts_when_sliver_lands_in_packed_bucket(spark, tmp_path):
    """Bin-pack's keep_files list is computed from its base snapshot, so a
    concurrent append landing a NEW sliver in a bucket it is replacing
    must CONFLICT — a metadata rebase would silently drop that sliver.
    The re-derived pack against the new base then sees every row."""
    import pytest

    from ton_etl_spark.lake.maintenance import compact_small_files
    from ton_etl_spark.lake.table import CommitConflictError, LakeTable

    schema = spark.createDataFrame([], "k long, v string").schema
    t = LakeTable.create(spark, str(tmp_path / "bpr"), schema=schema,
                         key_cols=["k"], n_buckets=2, target_file_rows=200)
    t.append(spark.range(500).selectExpr("id AS k", "concat('v', id) AS v"),
             commit_key="big")
    for i in range(3):  # 10-row slivers: each spreads over both buckets
        t.append(spark.range(500 + i * 10, 510 + i * 10)
                 .selectExpr("id AS k", "concat('v', id) AS v"),
                 commit_key=f"s{i}")
    assert all(  # every bucket has pack candidates => binpack replaces both
        sum(1 for f in t.current().files if f.bucket == b and f.rows < 100) >= 2
        for b in (0, 1)
    )

    def interleave():
        t2 = LakeTable.load(spark, t.root)
        t2.append(spark.createDataFrame([(9999, "late")], schema),
                  commit_key="late")

    _hooked_publish(t, interleave)
    with pytest.raises(CommitConflictError):
        compact_small_files(t, small_rows=100, commit_key="bp")
    # nothing lost: the late sliver and every original row survive
    assert t.read().count() == 531
    # re-derive against the new base: packs cleanly, rows unchanged
    res = compact_small_files(t, small_rows=100, commit_key="bp2")
    assert res["applied"] and t.read().count() == 531
