"""Per-commit change feeds: ``LakeTable.changes(v0, v1)`` reads the feeds
the commits of ``(v0, v1]`` recorded, and must equal the multiset
difference of the two snapshots — the diff the engine used to compute by
scanning both versions, kept here as the test oracle."""

import json
import random
from collections import Counter

import pytest
from pyspark.sql import types as T

from ton_etl_spark.cdc.apply import apply_cdc_batch, make_sequences_table
from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA, CDC_EVENT_SCHEMA_EVOLVED
from ton_etl_spark.lake.incremental import (
    follow_changes,
    make_agg_mart,
    recompute_agg_mart,
    refresh_agg_mart,
)
from ton_etl_spark.lake.maintenance import (
    compact_small_files,
    delete_where,
    expire_snapshots,
    gc_tombstones,
    rebucket,
    rewrite_buckets,
    rewrite_zorder,
    update_where,
)
from ton_etl_spark.lake.table import LakeTable, _conform


def _bag(df, change=None) -> Counter:
    def key(r):
        d = r.asDict(recursive=True)
        if change is not None:
            d["_change_type"] = change
        return json.dumps(d, sort_keys=True, default=str)

    return Counter(key(r) for r in df.collect())


def snapshot_diff(t: LakeTable, v0: int, v1: int) -> Counter:
    """The oracle: both snapshots read in full, conformed to ``v1``'s
    schema, and diffed as multisets (``exceptAll`` semantics)."""
    schema = t.snapshot(v1).schema
    old = _conform(t.read(version=v0), schema)
    new = _conform(t.read(version=v1), schema)
    return (_bag(new, "insert") - _bag(old, "insert")) + (
        _bag(old, "delete") - _bag(new, "delete")
    )


def _assert_feed_equals_diff(t, v0, v1):
    got, want = _bag(t.changes(v0, v1)), snapshot_diff(t, v0, v1)
    assert got == want, f"changes({v0}, {v1}): feed {got - want} / diff {want - got}"


def _events(spark, rows, evolved=False, wide=False):
    schema = CDC_EVENT_SCHEMA_EVOLVED if evolved else CDC_EVENT_SCHEMA
    if wide:
        schema = T.StructType([
            T.StructField(f.name, T.ArrayType(T.LongType(), False), True)
            if f.name == "tokens" else f for f in schema.fields
        ])
    return spark.createDataFrame(rows, schema)


def test_changes_equal_snapshot_diff_over_random_writer_sequences(spark, tmp_path):
    """Seeded random sequences of every writer — CDC epochs with updates,
    deletes, duplicates and stale events, a mid-stream added column and an
    array<int> -> array<bigint> widening, append, delete_where,
    update_where (bucket- and file-granular), gc_tombstones and the
    row-preserving rewrites, bin-pack included — and random intervals:
    the feed equals the snapshot diff as a multiset."""
    rng = random.Random(5)
    # a sequences table that opts into widening, so the widened epoch
    # below is a legal evolution
    t = LakeTable.create(
        spark, str(tmp_path / "t"), schema=CDC_EVENT_SCHEMA, key_cols=["doc_id"],
        n_buckets=4, stats_cols=["lsn"], sort_cols=["lsn"], type_widening=True,
    )
    state = {"lsn": 100, "epoch": 0, "fresh": 0}
    seen: dict[str, int] = {}  # doc_id -> lsn of its last event

    def cdc(evolved=False, wide=False):
        rows = []
        for _ in range(rng.randint(6, 12)):
            state["lsn"] += 1
            k = f"d{rng.randint(0, 24)}"
            op = rng.choice("cuud") if k in seen else "c"
            n = rng.randint(1, 3)
            ev = [k, op, state["lsn"], state["lsn"], [rng.randint(0, 9)] * n, n,
                  rng.choice(["web", "books", None])]
            if evolved or wide:
                ev.append(f"m{state['lsn']}")
            rows.append(ev)
            seen[k] = state["lsn"]
        rows += [list(r) for r in rng.sample(rows, 2)]  # redelivered duplicates
        stale = list(rng.choice(rows))
        stale[2] = stale[3] = 1  # older than anything stored
        rows.append(stale)
        apply_cdc_batch(t, _events(spark, rows, evolved or wide, wide), epoch=state["epoch"])
        state["epoch"] += 1

    def append():
        # fresh keys plus a second row for a stored key: the next merge of
        # its bucket must delete whichever of the two rows loses
        state["fresh"] += 1
        state["lsn"] += 1
        n = state["lsn"]
        keys = [f"a{state['fresh']}-{i}" for i in range(2)] + [rng.choice(sorted(seen))]
        t.append(_events(spark, [[k, "c", n, n, [i], 1, "web"] for i, k in enumerate(keys)]))

    def compact():
        append()  # a second file in a stored key's bucket: something packs
        small_rows = max(f.rows for f in t.current().files) + 1
        assert compact_small_files(t, small_rows=small_rows)["packed_files"]

    def file_granular(op, *args):
        # after an append, the newest LSN sits in files of its own, so the
        # rewrite reads those and carries the buckets' other files along
        append()
        op(t, *args, where={"lsn": (state["lsn"], None)}, file_granular=True)

    ops = {
        "cdc": cdc,
        "append": append,
        "compact_small_files": compact,
        "delete_where_files": lambda: file_granular(delete_where),
        "update_where_files": lambda: file_granular(update_where, {"n_tok": "n_tok + 100"}),
        "delete_where": lambda: delete_where(
            t, where={"lsn": (state["lsn"] - 6, state["lsn"] - 3)}),
        "update_where": lambda: update_where(
            t, {"n_tok": "n_tok + 10"}, where_in={"doc_id": [f"d{i}" for i in range(0, 25, 3)]}),
        "gc_tombstones": lambda: gc_tombstones(t, horizon_lsn=state["lsn"]),
        "rewrite_buckets": lambda: rewrite_buckets(t, buckets=[0, 1]),
        "rewrite_zorder": lambda: rewrite_zorder(t, ["lsn", "n_tok"], bits=2),
    }
    plan = ["cdc"] + rng.sample(sorted(ops), len(ops)) + ["cdc"]
    versions = [t.current_version()]
    for i, name in enumerate(plan):
        if i == 4:
            cdc(evolved=True)  # extra_meta appears mid-stream
        if i == 7:
            cdc(wide=True)  # tokens widen to array<bigint>
        if i == 8:
            assert rebucket(t, 8)["applied"]
        ops[name]()
        versions.append(t.current_version())
    head = versions[-1]
    assert t.current().schema["tokens"].dataType.elementType == T.LongType()
    assert t.current().n_buckets == 8
    intervals = {(versions[0], head), (head - 1, head)}
    while len(intervals) < 4:
        a, b = sorted(rng.sample(range(versions[0], head + 1), 2))
        intervals.add((a, b))
    for v0, v1 in sorted(intervals):
        _assert_feed_equals_diff(t, v0, v1)
    # feed rows never show up as table data
    snap = t.current()
    assert not {c.path for c in snap.feed if c.change == "delete"} & {f.path for f in snap.files}
    assert t.read().count() == sum(f.rows for f in snap.files)


def test_merge_crash_before_publish_replays_each_change_once(spark, tmp_path):
    """``_publish`` fails after the merge wrote its data AND feed files: the
    orphans are never read, and replaying the epoch yields every change
    row exactly once, with the mart equal to the full recompute."""
    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    b0 = _events(spark, [[f"k{i}", "c", i, i, [i], 1, "web" if i % 2 else "books"]
                         for i in range(1, 9)])
    apply_cdc_batch(t, b0, epoch=0)
    v0 = t.current_version()
    assert refresh_agg_mart(mart, t, 0, v0)["applied"]
    b1 = _events(spark, [["k1", "u", 20, 20, [7, 7], 2, "books"], ["k2", "d", 21, 21, None, None, None],
                         ["k9", "c", 22, 22, [1], 1, "web"], ["k3", "c", 3, 3, [3], 1, "web"]])

    real = t._publish

    def crash(snap):
        raise OSError("disk gone before the snapshot landed")

    t._publish = crash
    with pytest.raises(OSError):
        apply_cdc_batch(t, b1, epoch=1)
    t._publish = real
    assert t.current_version() == v0
    assert apply_cdc_batch(t, b1, epoch=1)["applied"]
    head = t.current_version()
    got = _bag(t.changes(v0, head))
    assert got == snapshot_diff(t, v0, head)
    # k1's update and k2's tombstone (a delete and an insert each), k9's
    # insert; the k3 redelivery changes nothing
    assert set(got.values()) == {1} and sum(got.values()) == 5
    assert refresh_agg_mart(mart, t, v0, head)["applied"]
    assert sorted(map(tuple, mart.read().collect())) == sorted(
        map(tuple, recompute_agg_mart(t, ["source"]).collect())
    )


def test_expire_keeps_retained_feeds_and_expired_interval_falls_back(spark, tmp_path):
    """Feed files of retained snapshots survive ``expire_snapshots``;
    those of expired snapshots are collected.  An interval whose
    intermediate snapshot is gone makes ``refresh_agg_mart`` rebuild and
    ``follow_changes`` raise or call ``on_expired``."""
    import os

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    for e in range(4):
        rows = [[f"k{i}", "u" if e else "c", 10 * e + i, 10 * e + i, [e] * (i + 1), i + 1, "web"]
                for i in range(6)]
        apply_cdc_batch(t, _events(spark, rows), epoch=e)
    head = t.current_version()  # v1..v4 are the four epochs
    t.tag("cursor", 1)
    feeds = {v: {c.path for c in t.snapshot(v).feed} for v in range(1, head + 1)}
    expire_snapshots(t, keep_last=2, grace_seconds=0)  # keeps v1 (tagged), v3, v4
    kept = {1, head - 1, head}
    referenced = set().union(*(feeds[v] | {f.path for f in t.snapshot(v).files} for v in kept))
    for v in kept:
        assert all(os.path.exists(os.path.join(t.root, p)) for p in feeds[v])
    gone = feeds[2] - referenced
    assert gone and not any(os.path.exists(os.path.join(t.root, p)) for p in gone)
    _assert_feed_equals_diff(t, head - 1, head)

    with pytest.raises(FileNotFoundError):
        t.changes(1, head)
    res = refresh_agg_mart(mart, t, 1, head)
    assert res["applied"] and res.get("rebuild")
    assert sorted(map(tuple, mart.read().collect())) == sorted(
        map(tuple, recompute_agg_mart(t, ["source"]).collect())
    )
    cursor = str(tmp_path / "cursor.json")
    with pytest.raises(RuntimeError, match="expired"):
        follow_changes(t, lambda df, fv, tv: None, cursor, start_version=1)
    calls = []
    follow_changes(t, lambda df, fv, tv: None, cursor, start_version=1,
                   on_expired=lambda tb, c, h: calls.append((c, h)))
    assert calls == [(1, head)]


def test_snapshot_without_feed_is_read_like_an_expired_interval(spark, tmp_path):
    """A snapshot written before feeds existed (no ``feed`` in its JSON)
    cannot be read incrementally: ``changes`` raises
    ``FileNotFoundError``, so ``refresh_agg_mart`` rebuilds and
    ``follow_changes`` takes its expiry path instead of failing on every
    trigger."""
    import dataclasses

    t = make_sequences_table(spark, str(tmp_path / "src"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    rows = [[f"k{i}", "c", i, i, [i], 1, "web" if i % 2 else "books"] for i in range(1, 7)]
    apply_cdc_batch(t, _events(spark, rows), epoch=0)
    v0 = t.current_version()
    assert refresh_agg_mart(mart, t, 0, v0)["applied"]
    real = t._publish
    t._publish = lambda snap: real(dataclasses.replace(snap, feed=None))
    apply_cdc_batch(t, _events(spark, [["k1", "u", 20, 20, [7, 7], 2, "books"]]), epoch=1)
    t._publish = real
    apply_cdc_batch(t, _events(spark, [["k2", "d", 21, 21, None, None, None]]), epoch=2)
    head = t.current_version()
    assert t.snapshot(v0 + 1).feed is None

    with pytest.raises(FileNotFoundError):
        t.changes(v0, head)
    _assert_feed_equals_diff(t, head - 1, head)
    res = refresh_agg_mart(mart, t, v0, head)
    assert res["applied"] and res.get("rebuild")
    assert sorted(map(tuple, mart.read().collect())) == sorted(
        map(tuple, recompute_agg_mart(t, ["source"]).collect())
    )
    cursor = str(tmp_path / "cursor.json")
    with pytest.raises(RuntimeError, match="no change feed"):
        follow_changes(t, lambda df, fv, tv: None, cursor, start_version=v0)
    calls = []
    follow_changes(t, lambda df, fv, tv: None, cursor, start_version=v0,
                   on_expired=lambda tb, c, h: calls.append((c, h)))
    assert calls == [(v0, head)]
