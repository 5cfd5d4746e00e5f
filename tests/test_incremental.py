"""Incremental mart maintenance: a derived aggregate table folded forward
from LakeTable.changes() must equal the full recompute at every step
(reference analog: the incremental nft_events build,
datalake_daily_sync.py:717-1268)."""

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.cdc.apply import apply_cdc_batch, make_sequences_table, read_state
from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log
from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA
from ton_etl_spark.lake.incremental import (
    make_agg_mart,
    recompute_agg_mart,
    refresh_agg_mart,
)
from ton_etl_spark.lake.maintenance import rewrite_buckets


def _mart_rows(mart):
    # key=repr: group values may be None, which plain tuple sort rejects
    return sorted((tuple(r) for r in mart.read().collect()), key=repr)


def _full_rows(source):
    return sorted(
        (tuple(r) for r in recompute_agg_mart(source, ["source"]).collect()), key=repr
    )


def test_incremental_mart_equals_full_recompute_over_epochs(spark, tmp_path):
    """Replay a real CDC log (out-of-order, duplicated, evolving) epoch by
    epoch, refreshing the mart from each version interval; the mart must
    match the from-scratch aggregate after EVERY epoch."""
    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=8)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    dirs = write_cdc_log(
        generate_cdc_log(spark, 4000, seed=31), str(tmp_path / "log"),
        n_batches=5, dup_pct=10, seed=31,
    )
    prev_v = t.current_version()
    for epoch, d in enumerate(dirs):
        apply_cdc_batch(t, spark.read.parquet(d), epoch=epoch)
        cur_v = t.current_version()
        res = refresh_agg_mart(mart, t, from_version=prev_v, to_version=cur_v)
        assert res["applied"]
        prev_v = cur_v
        assert _mart_rows(mart) == _full_rows(t), f"diverged at epoch {epoch}"


def test_incremental_mart_refresh_is_idempotent_and_handles_retraction(spark, tmp_path):
    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    b0 = spark.createDataFrame(
        [
            ("k1", "c", 1, 1, [1, 2], 2, "web"),
            ("k2", "c", 2, 2, [3], 1, "web"),
            ("k3", "c", 3, 3, [4, 5, 6], 3, "books"),
        ],
        schema=CDC_EVENT_SCHEMA,
    )
    v0 = t.current_version()
    apply_cdc_batch(t, b0, epoch=0)
    v1 = t.current_version()
    assert refresh_agg_mart(mart, t, v0, v1)["applied"]
    assert _mart_rows(mart) == [("books", 1, 3), ("web", 2, 3)]

    # re-running the same interval is a commit-key no-op
    again = refresh_agg_mart(mart, t, v0, v1)
    assert again["applied"] is False
    assert _mart_rows(mart) == [("books", 1, 3), ("web", 2, 3)]

    # update changes token counts; delete retracts; a whole group vanishes
    b1 = spark.createDataFrame(
        [
            ("k1", "u", 10, 10, [9], 1, "web"),        # 2 toks -> 1 tok
            ("k3", "d", 11, 11, None, None, "books"),  # books group empties
        ],
        schema=CDC_EVENT_SCHEMA,
    )
    apply_cdc_batch(t, b1, epoch=1)
    v2 = t.current_version()
    assert refresh_agg_mart(mart, t, v1, v2)["applied"]
    assert _mart_rows(mart) == [("web", 2, 2)]
    assert _mart_rows(mart) == _full_rows(t)


def test_incremental_mart_handles_null_group(spark, tmp_path):
    """source is nullable: the NULL group must fold into ONE mart row
    across refreshes (null-safe join), exactly like the full recompute."""
    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    v0 = t.current_version()
    b0 = spark.createDataFrame(
        [("k1", "c", 1, 1, [1], 1, None), ("k2", "c", 2, 2, [2], 1, "web")],
        schema=CDC_EVENT_SCHEMA,
    )
    apply_cdc_batch(t, b0, epoch=0)
    v1 = t.current_version()
    refresh_agg_mart(mart, t, v0, v1)
    # second refresh touches the NULL group again — must UPDATE its row,
    # not add a second NULL row
    b1 = spark.createDataFrame(
        [("k3", "c", 3, 3, [3, 4], 2, None)], schema=CDC_EVENT_SCHEMA
    )
    apply_cdc_batch(t, b1, epoch=1)
    refresh_agg_mart(mart, t, v1)
    rows = _mart_rows(mart)
    assert rows == _full_rows(t)
    assert sum(1 for r in rows if r[0] is None) == 1
    assert (None, 2, 3) in rows


@pytest.mark.parametrize("seed", [101, 202])
def test_incremental_mart_randomized_equivalence(spark, tmp_path, seed):
    """Property-style: random create/update/delete batches (NULL sources
    included, monotone LSNs) — after every refresh the mart must equal
    the full recompute.  Catches interaction bugs a scripted scenario
    misses (group churn, re-creation after delete, mixed-batch nets)."""
    import random

    rng = random.Random(seed)
    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    sources = ["web", "books", "code", None]
    live: set[str] = set()
    lsn = 0
    prev_v = t.current_version()
    for epoch in range(6):
        rows = []
        for _ in range(rng.randint(3, 12)):
            lsn += 1
            op = rng.choice(["c", "u", "d"])
            if op == "d" and live:
                k = rng.choice(sorted(live))
                live.discard(k)
                rows.append((k, "d", lsn, lsn, None, None, rng.choice(sources)))
            else:
                k = f"k{rng.randint(0, 15)}"
                live.add(k)
                n = rng.randint(1, 5)
                rows.append(
                    (k, op if op != "d" else "c", lsn, lsn,
                     list(range(n)), n, rng.choice(sources))
                )
        apply_cdc_batch(t, spark.createDataFrame(rows, schema=CDC_EVENT_SCHEMA), epoch=epoch)
        cur_v = t.current_version()
        assert refresh_agg_mart(mart, t, prev_v, cur_v)["applied"]
        prev_v = cur_v
        assert _mart_rows(mart) == _full_rows(t), f"seed={seed} epoch={epoch}"


def test_refresh_falls_back_to_rebuild_after_snapshot_expiry(spark, tmp_path):
    """If snapshot expiry ran past the mart's cursor, the incremental
    interval is unreadable — the refresh must fall back to a full rebuild
    instead of crashing forever on the missing snapshot file."""
    from ton_etl_spark.lake.maintenance import expire_snapshots

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    v0 = t.current_version()
    for e in range(3):
        b = spark.createDataFrame(
            [(f"k{e}", "c", e + 1, e + 1, [e], 1, "web")], schema=CDC_EVENT_SCHEMA
        )
        apply_cdc_batch(t, b, epoch=e)
    # cursor at v0+1; expire everything but the newest snapshot
    from ton_etl_spark.lake.incremental import rebuild_agg_mart, refresh_agg_mart as rf

    rf(mart, t, v0, v0 + 1)
    expire_snapshots(t, keep_last=1, grace_seconds=0)
    res = rf(mart, t, v0 + 1)
    assert res["applied"] and res.get("rebuild") is True
    assert _mart_rows(mart) == _full_rows(t)
    from ton_etl_spark.lake.incremental import last_synced_version

    assert last_synced_version(mart) == t.current_version()
    # strict callers can opt out of the fallback and get the loud error
    with pytest.raises(FileNotFoundError):
        rf(mart, t, v0 + 1, allow_rebuild=False)


def test_rebuild_corrects_cursorless_prepopulated_mart(spark, tmp_path):
    """A mart holding content but no cursor (manual bootstrap, or the key
    aged out of the recent window) must be REBUILT, not delta'd from
    version 0 — the delta would double every count."""
    from ton_etl_spark.lake.incremental import rebuild_agg_mart, recompute_agg_mart

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    b = spark.createDataFrame(
        [("k1", "c", 1, 1, [1, 2], 2, "web"), ("k2", "c", 2, 2, [3], 1, "web")],
        schema=CDC_EVENT_SCHEMA,
    )
    apply_cdc_batch(t, b, epoch=0)
    # manual cursorless bootstrap (non-martsync key)
    mart.append(recompute_agg_mart(t, ["source"]), commit_key="bootstrap")
    assert _mart_rows(mart) == [("web", 2, 3)]
    res = rebuild_agg_mart(mart, t)
    assert res["applied"]
    assert _mart_rows(mart) == [("web", 2, 3)]  # NOT doubled


def test_rebuild_reads_the_source_at_its_cursor(spark, tmp_path):
    """``rebuild_agg_mart(to_version=v)`` aggregates the source AT ``v``,
    the version it records as the cursor: the next refresh ``(v, head]``
    then counts each later change once, not twice."""
    from ton_etl_spark.lake.incremental import rebuild_agg_mart

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    apply_cdc_batch(t, spark.createDataFrame(
        [("k1", "c", 1, 1, [1, 2], 2, "web")], schema=CDC_EVENT_SCHEMA), epoch=0)
    v1 = t.current_version()
    apply_cdc_batch(t, spark.createDataFrame(
        [("k2", "c", 2, 2, [3], 1, "web")], schema=CDC_EVENT_SCHEMA), epoch=1)
    head = t.current_version()
    assert rebuild_agg_mart(mart, t, to_version=v1)["applied"]
    assert _mart_rows(mart) == [("web", 1, 2)]
    assert refresh_agg_mart(mart, t, v1, head)["applied"]
    assert _mart_rows(mart) == _full_rows(t) == [("web", 2, 3)]


def test_rebuild_rewrites_only_the_groups_that_moved(spark, tmp_path):
    """A rebuild folds "recompute minus stored rows": stored groups the
    source no longer has are deleted (a ``(g, 0, 0)`` row too, though its
    sums are zero), a bucket holding only correct groups keeps its
    manifest, and a rebuild over a correct mart commits only its cursor."""
    from ton_etl_spark.lake.incremental import last_synced_version, rebuild_agg_mart
    from ton_etl_spark.lake.table import bucket_of

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    apply_cdc_batch(t, spark.createDataFrame(
        [("k1", "c", 1, 1, [1, 2], 2, "web")], schema=CDC_EVENT_SCHEMA), epoch=0)
    names = ["web", "books", "code", "news", "wiki", "forum", "papers", "chat"]
    bucket = dict(
        spark.createDataFrame([(n,) for n in names], "source string")
        .select("source", bucket_of(["source"], 4)).collect()
    )
    gone, empty = [n for n in names if bucket[n] != bucket["web"]][:2]
    schema = mart.current().schema
    mart.append(spark.createDataFrame(
        [("web", 1, 2), (gone, 5, 9), (empty, 0, 0)], schema), commit_key="bootstrap")
    before = mart.current()

    res = rebuild_agg_mart(mart, t)
    assert res["applied"] and res["buckets"] == sorted({bucket[gone], bucket[empty]})
    assert _mart_rows(mart) == _full_rows(t) == [("web", 1, 2)]
    assert mart.current().manifests[bucket["web"]] == before.manifests[bucket["web"]]
    feed = mart.changes(before.version, mart.current_version()).collect()
    assert sorted((r["source"], r["_change_type"]) for r in feed) == sorted(
        [(gone, "delete"), (empty, "delete")]
    )

    # nothing moved: the rebuild commits its cursor and no data file
    apply_cdc_batch(t, spark.createDataFrame(
        [("k1", "c", 1, 1, [1, 2], 2, "web")], schema=CDC_EVENT_SCHEMA), epoch=1)
    settled = mart.current()
    res = rebuild_agg_mart(mart, t)
    assert res["applied"] and res["buckets"] == []
    assert last_synced_version(mart) == t.current_version()
    assert mart.current().manifests == settled.manifests


def test_streaming_mart_maintenance_crash_safe(spark, tmp_path, monkeypatch):
    """The streaming materialized view: a mart maintained inside the CDC
    stream loop, with a crash injected BETWEEN a merge and its mart
    refresh.  On restart the cursor (recovered from the mart's own commit
    keys) widens the next interval — the mart must converge to the full
    recompute with no gap and no double-count."""
    import os as _os

    import ton_etl_spark.lake.incremental as inc
    from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log
    from ton_etl_spark.cdc.stream import start_cdc_stream
    from ton_etl_spark.lake.table import LakeTable

    log_dir = str(tmp_path / "log")
    write_cdc_log(
        generate_cdc_log(spark, 3000, seed=51), log_dir, n_batches=4, dup_pct=10, seed=51
    )
    real_refresh = inc.refresh_agg_mart
    state = {"crashed": False}

    def flaky(mart, source, from_version, to_version=None):
        if not state["crashed"] and to_version is not None and to_version >= 2:
            state["crashed"] = True
            raise RuntimeError("injected crash after merge, before refresh")
        return real_refresh(mart, source, from_version, to_version)

    monkeypatch.setattr(inc, "refresh_agg_mart", flaky)
    kw = dict(
        log_glob=_os.path.join(log_dir, "phase=*", "__seq=*"),
        table_root=str(tmp_path / "tbl"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=8,
        mart_root=str(tmp_path / "mart"),
    )
    q = start_cdc_stream(spark, **kw)
    with pytest.raises(Exception):
        q.awaitTermination()
    assert state["crashed"]

    q2 = start_cdc_stream(spark, **kw)
    q2.awaitTermination()

    t = LakeTable.load(spark, str(tmp_path / "tbl"))
    mart = LakeTable.load(spark, str(tmp_path / "mart"))
    assert _mart_rows(mart) == _full_rows(t)
    assert inc.last_synced_version(mart) == t.current_version()


def test_incremental_mart_survives_source_compaction(spark, tmp_path):
    """A compaction commit moves manifests without changing logical rows —
    the refresh over that interval must be a clean no-op delta."""
    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    b0 = spark.createDataFrame(
        [("k1", "c", 1, 1, [1], 1, "web"), ("k2", "c", 2, 2, [2, 3], 2, "web")],
        schema=CDC_EVENT_SCHEMA,
    )
    v0 = t.current_version()
    apply_cdc_batch(t, b0, epoch=0)
    v1 = t.current_version()
    refresh_agg_mart(mart, t, v0, v1)

    rewrite_buckets(t, commit_key="compact-mid")
    v2 = t.current_version()
    res = refresh_agg_mart(mart, t, v1, v2)
    assert res["applied"] and res["buckets"] == []
    assert _mart_rows(mart) == _full_rows(t) == [("web", 2, 3)]


@pytest.mark.parametrize("seed", [7, 77])
def test_mart_correct_under_adversarial_maintenance_interleaving(spark, tmp_path, seed):
    """Property: randomized schedules of snapshot expiry (keep_last=1,
    grace=0 — the harshest legal setting), rolling bucket compaction, and
    incremental mart refresh, interleaved with random CDC batches, must
    keep the mart equal to the full recompute at EVERY step.  The two
    interaction hazards this hunts: (a) expiry running past the mart's
    cursor mid-loop (the refresh must fall back to rebuild, not wedge or
    delta-from-garbage); (b) compaction moving bucket manifests between a
    merge and its refresh (changes() must net to zero for rewritten-only
    buckets)."""
    import random

    from ton_etl_spark.lake.incremental import last_synced_version, rebuild_agg_mart
    from ton_etl_spark.lake.maintenance import expire_snapshots

    rng = random.Random(seed)
    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    sources = ["web", "books", None]
    live: set[str] = set()
    lsn = 0
    saw_rebuild_fallback = False

    def _maintain(epoch: int, tag: str) -> None:
        act = rng.choice(["none", "expire", "compact", "both"])
        if act in ("compact", "both"):
            bs = rng.sample(range(4), rng.randint(1, 4))
            rewrite_buckets(t, buckets=bs, commit_key=f"cmp-{tag}={epoch}")
        if act in ("expire", "both"):
            expire_snapshots(t, keep_last=1, grace_seconds=0)

    for epoch in range(8):
        rows = []
        for _ in range(rng.randint(2, 10)):
            lsn += 1
            op = rng.choice(["c", "u", "d"])
            if op == "d" and live:
                k = rng.choice(sorted(live))
                live.discard(k)
                rows.append((k, "d", lsn, lsn, None, None, rng.choice(sources)))
            else:
                k = f"k{rng.randint(0, 9)}"
                live.add(k)
                n = rng.randint(1, 4)
                rows.append((k, "c" if op == "d" else op, lsn, lsn,
                             list(range(n)), n, rng.choice(sources)))
        apply_cdc_batch(t, spark.createDataFrame(rows, schema=CDC_EVENT_SCHEMA), epoch=epoch)
        # adversarial maintenance lands BETWEEN the merge and its refresh —
        # exactly the crash-window interleaving the streaming loop can see
        _maintain(epoch, "pre")
        frm = last_synced_version(mart)
        if frm is None:
            rebuild_agg_mart(mart, t, to_version=t.current_version())
        else:
            res = refresh_agg_mart(mart, t, frm, t.current_version())
            saw_rebuild_fallback = saw_rebuild_fallback or res.get("rebuild", False)
        assert _mart_rows(mart) == _full_rows(t), f"seed={seed} epoch={epoch}"
        # and sometimes again after the refresh
        _maintain(epoch, "post")
        assert _mart_rows(mart) == _full_rows(t), f"seed={seed} epoch={epoch} post"
    # the schedule really exercised the expiry-fallback path at least once
    assert saw_rebuild_fallback, f"seed={seed} never hit the rebuild fallback"


def test_follow_changes_tail_equals_changes_with_crash(spark, tmp_path):
    """follow_changes contract (r6 verdict ask #6): the concatenation of
    followed interval batches equals changes(v0, head) under writes racing
    the follower, and a crash between process() and the cursor write
    re-delivers the SAME interval row-identically (at-least-once,
    exactly-once after interval-key dedup)."""
    from ton_etl_spark.lake.incremental import follow_changes, read_follow_cursor

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    v0 = t.current_version()
    cursor = str(tmp_path / "cursor.json")
    dirs = write_cdc_log(
        generate_cdc_log(spark, 1500, seed=47), str(tmp_path / "log"),
        n_batches=4, dup_pct=10, seed=47,
    )
    batches_all = [spark.read.parquet(d) for d in dirs]
    apply_cdc_batch(t, batches_all[0], epoch=0)

    got: dict[tuple, list] = {}  # interval -> rows (dedup by interval key)

    def _rows(df):
        return sorted((r.asDict() for r in df.collect()), key=repr)

    def consume(df, fv, tv):
        got[(fv, tv)] = _rows(df)
        # a write RACES the cursor update: lands after changes() was read
        if len(got) == 1:
            apply_cdc_batch(t, batches_all[1], epoch=1)

    r = follow_changes(t, consume, cursor, start_version=v0, max_batches=1)
    assert r["batches"] == 1 and len(got) == 1
    # the racing write is NOT lost: next poll picks it up from the cursor
    r = follow_changes(t, consume, cursor, start_version=v0, max_batches=1)
    assert r["batches"] == 1 and len(got) == 2

    # crash injection: process succeeds, cursor write never happens
    apply_cdc_batch(t, batches_all[2], epoch=2)
    first_delivery: dict = {}

    def crashing(df, fv, tv):
        first_delivery[(fv, tv)] = _rows(df)
        raise RuntimeError("crash after processing, before cursor write")

    with pytest.raises(RuntimeError):
        follow_changes(t, crashing, cursor, start_version=v0, max_batches=1)
    pre_crash_cursor = read_follow_cursor(cursor, v0)

    # restart: the SAME interval is re-delivered row-identically
    r = follow_changes(t, consume, cursor, start_version=v0, max_batches=1)
    assert r["batches"] == 1
    (interval,) = first_delivery.keys()
    assert interval[0] == pre_crash_cursor
    assert got[interval] == first_delivery[interval]

    # tail to head over one more write, then idle-stop
    apply_cdc_batch(t, batches_all[3], epoch=3)
    follow_changes(t, consume, cursor, start_version=v0, idle_polls=1)
    head = t.current_version()
    assert read_follow_cursor(cursor, v0) == head

    # gap-free + exactly-once after interval dedup: the changelog algebra
    # must compose — per-row signed net (+insert/-delete) of the interval
    # concatenation equals the net of ONE changes() sweep over the whole
    # range (intermediate states appear in per-interval batches and cancel;
    # plain row-list equality would be the wrong contract)
    intervals = sorted(got)
    assert intervals[0][0] == v0 and intervals[-1][1] == head
    assert all(a[1] == b[0] for a, b in zip(intervals, intervals[1:]))

    # each batch is conformed to ITS interval's head schema; under additive
    # evolution the consumer conforms to the final schema (absent column =
    # NULL) — the documented changelog contract — before netting
    head_cols = [f.name for f in t.current().schema.fields]

    def _net(rows):
        from collections import Counter

        net: Counter = Counter()
        for r in rows:
            key = repr([(c, r.get(c)) for c in head_cols if c != "_change_type"])
            net[key] += 1 if r["_change_type"] == "insert" else -1
        return {k: v for k, v in net.items() if v}

    concat_net = _net([r for iv in intervals for r in got[iv]])
    assert concat_net == _net(_rows(t.changes(v0, head)))
    # and intermediate batches were non-trivial (the test saw real churn)
    assert sum(len(v) for v in got.values()) > len(concat_net)


def test_mirror_changes_exactly_once_through_maintenance_and_lost_cursor(
    spark, tmp_path
):
    """mirror_changes: the changelog mirror is exactly-once (interval
    commit keys absorb a lost-cursor replay), pure maintenance on the
    source delivers EMPTY intervals that still advance the chain, and the
    mirror's signed net equals one changes() sweep of the whole range."""
    from ton_etl_spark.lake.incremental import (
        make_changelog_sink,
        mirror_changes,
        read_follow_cursor,
    )
    from ton_etl_spark.lake.maintenance import rewrite_buckets

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    v0 = t.current_version()
    cursor = str(tmp_path / "cursor.json")
    dirs = write_cdc_log(
        generate_cdc_log(spark, 1200, seed=53), str(tmp_path / "log"),
        n_batches=3, dup_pct=10, seed=53,
    )
    batches = [spark.read.parquet(d) for d in dirs]
    sink = make_changelog_sink(spark, str(tmp_path / "mirror"), t)

    apply_cdc_batch(t, batches[0], epoch=0)
    assert mirror_changes(t, sink, cursor, start_version=v0)["batches"] == 1
    rows_after_1 = sink.read().count()
    assert rows_after_1 > 0

    # lost cursor write: reset the cursor to v0 and re-run — the interval
    # replays, but the sink commit key makes it a row-level no-op
    saved = read_follow_cursor(cursor, v0)
    import json as _json

    with open(cursor, "w") as fh:
        _json.dump({"version": v0}, fh)
    assert mirror_changes(t, sink, cursor, start_version=v0)["batches"] == 1
    assert sink.read().count() == rows_after_1, "replayed interval duplicated rows"
    assert read_follow_cursor(cursor, v0) == saved

    # pure maintenance: compaction moves the head without changing rows —
    # the tail delivers an EMPTY interval and advances
    apply_cdc_batch(t, batches[1], epoch=1)
    mirror_changes(t, sink, cursor, start_version=v0)
    r = rewrite_buckets(t, commit_key="bp")
    assert r["applied"]
    pre = sink.read().count()
    assert mirror_changes(t, sink, cursor, start_version=v0)["batches"] == 1
    assert sink.read().count() == pre, "maintenance-only interval emitted rows"
    assert read_follow_cursor(cursor, v0) == t.current_version()

    # final batch, then the algebra check: mirror net == one-sweep net
    apply_cdc_batch(t, batches[2], epoch=2)
    mirror_changes(t, sink, cursor, start_version=v0)
    head = t.current_version()
    assert read_follow_cursor(cursor, v0) == head
    cols = [f.name for f in t.current().schema.fields]

    def _net(df):
        from collections import Counter

        net: Counter = Counter()
        for r in df.collect():
            d = r.asDict()
            key = repr([(c, d.get(c)) for c in cols])
            net[key] += 1 if d["_change_type"] == "insert" else -1
        return {k: v for k, v in net.items() if v}

    assert _net(sink.read()) == _net(t.changes(v0, head))


def test_follow_changes_expiry_raises_then_hook_recovers(spark, tmp_path):
    """A follower down past snapshot expiry must NOT silently drop the
    interval: default is a clear error naming the resync requirement;
    on_expired= opts into in-loop recovery, after which the cursor lands
    at head and tailing resumes incrementally."""
    from ton_etl_spark.lake.incremental import follow_changes, read_follow_cursor
    from ton_etl_spark.lake.maintenance import expire_snapshots

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    v0 = t.current_version()
    cursor = str(tmp_path / "cursor.json")
    dirs = write_cdc_log(
        generate_cdc_log(spark, 900, seed=61), str(tmp_path / "log"),
        n_batches=3, dup_pct=10, seed=61,
    )
    batches = [spark.read.parquet(d) for d in dirs]

    apply_cdc_batch(t, batches[0], epoch=0)
    follow_changes(t, lambda df, fv, tv: df.count(), cursor, start_version=v0)
    stuck_at = read_follow_cursor(cursor, v0)

    # the follower goes dark; writes + expiry run past its cursor
    apply_cdc_batch(t, batches[1], epoch=1)
    apply_cdc_batch(t, batches[2], epoch=2)
    expire_snapshots(t, keep_last=1)
    with pytest.raises(RuntimeError, match="expired"):
        follow_changes(t, lambda df, fv, tv: df.count(), cursor,
                       start_version=v0)
    # the failed poll moved nothing
    assert read_follow_cursor(cursor, v0) == stuck_at

    calls = []

    def resync(table, cur, head):
        # a real consumer rebuilds from table.read() here (the
        # rebuild_agg_mart pattern); the contract under test is the
        # hook invocation + cursor landing at head
        calls.append((cur, head))

    r = follow_changes(t, lambda df, fv, tv: df.count(), cursor,
                       start_version=v0, on_expired=resync)
    head = t.current_version()
    assert calls == [(stuck_at, head)]
    assert r["cursor"] == head and read_follow_cursor(cursor, v0) == head

    # tailing resumes incrementally after the resync
    extra = spark.createDataFrame(
        [("zz1", "c", 10_000, 10_000, [1], 1, "web")], schema=CDC_EVENT_SCHEMA
    )
    apply_cdc_batch(t, extra, epoch=3)
    seen = []
    follow_changes(t, lambda df, fv, tv: seen.append(df.count()), cursor,
                   start_version=v0)
    assert seen == [1]
