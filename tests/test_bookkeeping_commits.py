"""The bookkeeping commits written from the driver: the per-epoch lineage
rows (``apply_cdc_batch``) and the mart fold (``incremental._fold``).
Their Spark jobs are counted with job groups through
``sc.statusTracker()``, their rows are checked against recomputes, and
the stream is crashed at each of their publishes and restarted."""

import glob
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

import ton_etl_spark.cdc.apply as apply_mod
from ton_etl_spark.cdc.apply import (
    apply_cdc_batch,
    final_state_oracle,
    make_lineage_table,
    make_sequences_table,
    read_full_log,
    read_state,
)
from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log
from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA, LSN_COL
from ton_etl_spark.lake.incremental import (
    make_agg_mart,
    rebuild_agg_mart,
    recompute_agg_mart,
    refresh_agg_mart,
)
from ton_etl_spark.lake.catalog import sync_table_from_catalog
from ton_etl_spark.lake.table import LakeTable, arrow_rows
from tests.test_change_feed import _bag, snapshot_diff


class _Jobs:
    """Spark jobs per job group.  Jobs take the group of the thread that
    submits them, so switching groups around a call attributes its jobs
    exactly; the listener bus is drained before counting."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.group = None

    def use(self, group):
        prev, self.group = self.group, group
        if group is None:
            self.sc.setJobGroup("", "")
        else:
            self.sc.setJobGroup(group, group, True)
        return prev

    def wrap(self, obj, name, group, monkeypatch):
        real = getattr(obj, name)

        def wrapped(*a, **kw):
            prev = self.use(group)
            try:
                return real(*a, **kw)
            finally:
                self.use(prev)

        monkeypatch.setattr(obj, name, wrapped)

    def count(self, group) -> int:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(self.sc.statusTracker().getJobIdsForGroup(group))


def _batch(spark, rows, partitions=1):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, partitions), CDC_EVENT_SCHEMA
    )


def _rows(n, lsn0, sources=("web", "books", None)):
    return [(f"k{i}", "c", lsn0 + i, lsn0 + i, [i], 1, sources[i % len(sources)])
            for i in range(n)]


def test_apply_runs_one_aggregate_before_the_merge(spark, tmp_path, monkeypatch):
    """With lineage, ``apply_cdc_batch`` runs one aggregate over the raw
    batch before the merge — as many jobs as one such aggregate over a
    like cached batch — and the lineage append runs none."""
    t = make_sequences_table(spark, str(tmp_path / "t"), n_buckets=4)
    lineage = make_lineage_table(spark, str(tmp_path / "lin"))
    jobs = _Jobs(spark)
    jobs.wrap(apply_mod, "merge_lww", "merge", monkeypatch)
    jobs.wrap(lineage, "append", "lineage", monkeypatch)
    like = _batch(spark, _rows(40, 1), partitions=3).persist()
    batch = _batch(spark, _rows(40, 1), partitions=3).persist()
    try:
        jobs.use("one_aggregate")
        like.groupBy(F.spark_partition_id(), F.col("doc_id")).agg(
            F.count(F.lit(1)), F.max(LSN_COL)).collect()
        jobs.use("apply")
        apply_cdc_batch(t, batch, epoch=0, lineage=lineage)
    finally:
        jobs.use(None)
        like.unpersist()
        batch.unpersist()
    assert jobs.count("lineage") == 0
    assert jobs.count("merge") > 0
    assert jobs.count("apply") == jobs.count("one_aggregate") > 0
    assert lineage.read().count() == 3


def test_lineage_rows_equal_a_per_partition_recompute(spark, tmp_path):
    """A batch split over 3 partitions: each partition's lineage row holds
    its min and max lsn, count and XOR hash, whichever buckets its rows
    hash to."""
    t = make_sequences_table(spark, str(tmp_path / "t"), n_buckets=8)
    lineage = make_lineage_table(spark, str(tmp_path / "lin"))
    batch = _batch(spark, _rows(60, 100), partitions=3)
    want = sorted(
        tuple(r) for r in batch.groupBy(F.spark_partition_id().alias("p")).agg(
            F.min(LSN_COL), F.max(LSN_COL), F.count(F.lit(1)),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in batch.columns])),
        ).collect()
    )
    assert len(want) == 3
    apply_cdc_batch(t, batch, epoch=4, lineage=lineage)
    got = sorted(tuple(r) for r in lineage.read().collect())
    assert got == [(4, *w) for w in want]
    # a replayed epoch adds no lineage row
    assert not apply_cdc_batch(t, batch, epoch=4, lineage=lineage)["applied"]
    assert lineage.read().count() == 3


def test_refresh_runs_only_its_delta_collect(spark, tmp_path, monkeypatch):
    """Every Spark job of ``refresh_agg_mart`` is one of its delta
    collect's: the stored-row read and the mart commit run none."""
    t = make_sequences_table(spark, str(tmp_path / "t"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    apply_cdc_batch(t, _batch(spark, _rows(30, 1)), epoch=0)
    refresh_agg_mart(mart, t, 0, t.current_version())
    v0 = t.current_version()
    apply_cdc_batch(t, _batch(spark, _rows(10, 100, sources=("new",))), epoch=1)
    jobs = _Jobs(spark)
    jobs.wrap(type(spark.range(1)), "toArrow", "delta", monkeypatch)
    jobs.use("refresh")
    try:
        res = refresh_agg_mart(mart, t, v0, t.current_version())
    finally:
        jobs.use(None)
    assert res["applied"] and res["buckets"]
    assert jobs.count("delta") > 0
    assert jobs.count("refresh") == 0
    got = sorted((tuple(r) for r in mart.read().collect()), key=repr)
    assert got == sorted((tuple(r) for r in recompute_agg_mart(t, ["source"]).collect()),
                         key=repr)


@pytest.mark.parametrize("bloom", [False, True])
def test_zero_row_commits_run_no_job_and_write_no_file(spark, tmp_path, bloom):
    """A zero-row Arrow append and a catalog sync's schema-only evolution
    commit on the driver: no Spark job, no data file, also on a table
    with ``bloom_cols`` (whose rows the driver writer refuses)."""
    cols = [{"column_name": "k", "data_type": "text", "ordinal_position": 1},
            {"column_name": "v", "data_type": "bigint", "ordinal_position": 2}]
    kw = {"bloom_cols": ["k"]} if bloom else {}
    t, _ = sync_table_from_catalog(spark, str(tmp_path / "t"), cols, key_cols=["k"],
                                   n_buckets=4, **kw)
    t.append(spark.createDataFrame([("a", 1), ("b", 2)], t.current().schema))

    def parquet_files():
        return sorted(glob.glob(os.path.join(t.root, "data", "**", "*.parquet"),
                                recursive=True))

    files, v = parquet_files(), t.current_version()
    grown = cols + [{"column_name": "w", "data_type": "integer", "ordinal_position": 3}]
    jobs = _Jobs(spark)
    jobs.use("zero")
    try:
        assert t.append(arrow_rows(t.current().schema), commit_key="empty")
        _, rep = sync_table_from_catalog(spark, t.root, grown, key_cols=["k"])
    finally:
        jobs.use(None)
    assert jobs.count("zero") == 0
    assert rep["action"] == "evolved" and rep["added"] == ["w"]
    snap = t.current()
    assert snap.version == v + 2 and snap.feed == []
    assert snap.schema.fieldNames() == ["k", "v", "w"]
    assert parquet_files() == files
    assert sorted(tuple(r) for r in t.read().collect()) == [("a", 1, None), ("b", 2, None)]


def test_mart_feed_equals_snapshot_diff(spark, tmp_path):
    """The fold's feed across a group dropping to 0, a NULL group, a group
    coming back, a no-op interval and a rebuild: ``mart.changes`` equals
    the snapshot diff on every interval."""
    t = make_sequences_table(spark, str(tmp_path / "t"), n_buckets=4)
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    m0 = mart.current_version()
    epochs = [
        _rows(9, 1),  # web, books, NULL
        [(f"k{i}", "d", 50 + i, 50, None, None, "books") for i in (1, 4, 7)]  # books -> 0
        + [("k2", "u", 60, 60, [1, 2, 3], 3, None)],  # NULL group moves
        [("k1", "c", 70, 70, [5], 1, "books")],  # books comes back
        [("k0", "u", 80, 80, [9], 1, "web")],  # n_tok unchanged: nets out
    ]
    v = t.current_version()
    for epoch, rows in enumerate(epochs):
        apply_cdc_batch(t, _batch(spark, rows), epoch=epoch)
        refresh_agg_mart(mart, t, v, t.current_version())
        v = t.current_version()
    # a rebuild over a correct mart commits only its cursor
    rebuild_agg_mart(mart, t)
    m1 = mart.current_version()
    assert m1 == m0 + len(epochs) + 1
    for a in range(m0, m1):
        for b in range(a + 1, m1 + 1):
            assert _bag(mart.changes(a, b)) == snapshot_diff(mart, a, b), (a, b)
    assert mart.snapshot(m1).feed == [] and mart.snapshot(m1 - 1).feed == []
    rows = sorted((tuple(r) for r in mart.read().collect()), key=repr)
    assert rows == sorted((tuple(r) for r in recompute_agg_mart(t, ["source"]).collect()),
                          key=repr)
    assert (None, 3, 5) in rows


@pytest.fixture(scope="module")
def crash_log(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crashlog"))
    write_cdc_log(generate_cdc_log(spark, 2000, seed=23), root, n_batches=5,
                  dup_pct=10, seed=23)
    return root


@pytest.mark.parametrize("at", ["lineage", "mart"])
def test_crash_at_driver_commit_publish(spark, tmp_path, monkeypatch, crash_log, at):
    """``_publish`` raises once at the lineage (or the mart) commit of the
    third epoch, after the driver writer's files have landed; the stream
    restarts from its checkpoint and replays the epoch.  Each epoch's
    lineage rows appear exactly once, the mart equals the recompute and
    the state equals the oracle."""
    roots = {n: str(tmp_path / n) for n in ("tbl", "ckpt", "lineage", "mart")}
    real = LakeTable._publish
    crashed = []

    def flaky(self, snap):
        if not crashed and self.root == roots[at] and snap.version == 3:
            assert glob.glob(os.path.join(self.root, "data", "c3-*", "**", "*.parquet"),
                             recursive=True)
            crashed.append(snap.version)
            raise RuntimeError(f"injected crash at the {at} publish")
        return real(self, snap)

    monkeypatch.setattr(LakeTable, "_publish", flaky)
    from ton_etl_spark.cdc.stream import start_cdc_stream

    kw = dict(log_glob=os.path.join(crash_log, "phase=*", "__seq=*"),
              table_root=roots["tbl"], checkpoint_dir=roots["ckpt"],
              lineage_root=roots["lineage"], mart_root=roots["mart"],
              max_files_per_trigger=2)
    q = start_cdc_stream(spark, **kw)
    with pytest.raises(Exception):
        q.awaitTermination()
    assert crashed == [3]
    start_cdc_stream(spark, **kw).awaitTermination()

    t = LakeTable.load(spark, roots["tbl"])
    lin = LakeTable.load(spark, roots["lineage"]).read()
    pairs = Counter((r["checkpoint_epoch"], r["partition_id"]) for r in lin.collect())
    assert pairs and max(pairs.values()) == 1
    epochs = {int(k.split("=")[1]) for k in t.current().recent_commit_keys
              if k.startswith("epoch=")}
    assert {e for e, _ in pairs} == epochs
    delivered = sum(spark.read.parquet(d).count()
                    for d in glob.glob(os.path.join(crash_log, "phase=*", "__seq=*")))
    assert lin.agg(F.sum("event_count")).first()[0] == delivered
    mart = LakeTable.load(spark, roots["mart"])
    assert sorted((tuple(r) for r in mart.read().collect()), key=repr) == sorted(
        (tuple(r) for r in recompute_agg_mart(t, ["source"]).collect()), key=repr)
    assert sorted(tuple(r) for r in read_state(t).collect()) == sorted(
        tuple(r) for r in final_state_oracle(read_full_log(spark, crash_log)).collect())
