"""The point-lookup bucket probe (``LakeTable._probe_buckets``) against the
residual it shortcuts.  For each probe, ``read(where_in=)`` must return
exactly the rows ``read().where(plan(where_in=).residual)`` returns, and
every stored row the residual matches must sit in a file whose
``DataFile.bucket`` the probe kept.  Probes cover each key type the
conformance handles (string, int, long, decimal, date, timestamp and
``timestamp_ntz`` in a New York session across a DST fold and gap),
a composite key, NULL-holding lists, values the key type cannot hold, and
a cross-product over the enumeration limit.  Planning a lookup starts no
Spark job: the probe keys are an Arrow-built local frame."""

import datetime as dt
import functools
import os
import urllib.parse
from decimal import Decimal

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ton_etl_spark.lake.table import LakeTable

UTC = dt.timezone.utc


@pytest.fixture
def probes(monkeypatch):
    """Records what each ``_probe_buckets`` call returned."""
    calls: list = []
    orig = LakeTable._probe_buckets

    def rec(self, snap, where_in):
        out = orig(self, snap, where_in)
        calls.append(out)
        return out

    monkeypatch.setattr(LakeTable, "_probe_buckets", rec)
    return calls


def _table(spark, root, ddl, rows, key_cols=("k",)):
    schema = spark.createDataFrame([], ddl).schema
    t = LakeTable.create(spark, root, schema=schema, key_cols=list(key_cols), n_buckets=8)
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")
    return t


def _check(spark, t, probes, cases, zone="UTC"):
    """``cases``: (where_in, pruned) pairs; ``pruned`` says whether the
    probe must narrow the buckets (True), fall back to all of them
    (False), or either (None).  Rows carry a unique ``v``."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        snap = t.current()
        bucket_of_file = {os.path.join(t.root, f.path): f.bucket for f in snap.files}
        plans, probed = [], []
        for where_in, pruned in cases:
            probes.clear()
            p = t.plan(where_in=where_in)
            plans.append(p)
            # no probe call: the conformed list matched nothing
            probed.append(probes[0] if probes else [])
            if pruned is not None:
                assert (probed[-1] is not None) == pruned, (where_in, probed[-1])
        flags = t.read().select(
            "v", F.col("_metadata.file_path").alias("file"),
            *[p.residual.alias(f"m{i}") for i, p in enumerate(plans)],
        ).collect()
        got_rows = functools.reduce(DataFrame.unionByName, [
            t.read(where_in=wi).select("v", F.lit(i).alias("case"))
            for i, (wi, _) in enumerate(cases)
        ]).collect()
        for i, (where_in, _) in enumerate(cases):
            hits = [r for r in flags if r[f"m{i}"]]
            got = sorted(r["v"] for r in got_rows if r["case"] == i)
            assert got == sorted(r["v"] for r in hits), (zone, where_in)
            if probed[i] is not None:
                for r in hits:
                    path = urllib.parse.unquote(urllib.parse.urlparse(r["file"]).path)
                    assert bucket_of_file[path] in probed[i], (zone, where_in, r["v"])
        return flags
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_probe_agrees_with_residual_per_key_type(spark, tmp_path, probes):
    root = str(tmp_path)
    s = _table(spark, root + "/s", "k string, v long",
               [(f"k{i}", i) for i in range(40)] + [("7", 40)])
    _check(spark, s, probes, [
        ({"k": ["k3"]}, True),
        ({"k": ["k3", "k17", "zz"]}, True),
        ({"k": [7]}, True),  # the string "7"
        ({"k": ["k5", None]}, True),  # NULL never matches isin: dropped
        ({"k": [None]}, True),  # only NULL: matches nothing
        ({"k": [f"k{i}" for i in range(5000)]}, False),  # over the limit
    ])

    i = _table(spark, root + "/i", "k int, v long", [(n, n) for n in range(40)])
    _check(spark, i, probes, [
        ({"k": [3, 2**40]}, True),  # no int holds 2**40
        ({"k": ["5", 9.0, Decimal(11)]}, True),
        ({"k": [7.5, True]}, True),  # nothing representable
        ({"k": [5, None]}, True),
    ])

    big = 2**40
    lg = _table(spark, root + "/l", "k long, v long",
                [(big + n, n) for n in range(20)] + [(n, 20 + n) for n in range(20)])
    _check(spark, lg, probes, [
        ({"k": [big + 1, 3]}, True),
        ({"k": [2**64, "x", 4]}, True),
    ])

    d = _table(spark, root + "/d", "k decimal(10,2), v long",
               [(Decimal(n) / 4, n) for n in range(40)])
    _check(spark, d, probes, [
        ({"k": [Decimal("1.25"), Decimal("2.500")]}, True),
        ({"k": [1.5, "2.75", 3]}, True),
        ({"k": [Decimal("1.234"), Decimal("1e20"), Decimal("NaN")]}, True),
    ])


def test_probe_agrees_with_residual_on_dates_and_timestamps(spark, tmp_path, probes):
    root = str(tmp_path)
    day0 = dt.date(2026, 1, 1)
    d = _table(spark, root + "/date", "k date, v long",
               [(day0 + dt.timedelta(days=n), n) for n in range(20)])
    # a datetime meets a date at the session zone's midnight: 15:00 UTC is
    # midnight of the NEXT day in Tokyo, so hashing its UTC date would miss
    tokyo_midnight = dt.datetime(2026, 1, 4, 15, tzinfo=UTC)
    flags = _check(spark, d, probes, [
        ({"k": [dt.date(2026, 1, 5), "2026-01-09"]}, True),
        ({"k": [tokyo_midnight]}, True),
        ({"k": [tokyo_midnight.replace(tzinfo=None)]}, True),  # process zone
        ({"k": [dt.datetime(2026, 1, 5), dt.datetime(2026, 1, 6, 12)]}, True),
    ], zone="Asia/Tokyo")
    assert [r["v"] for r in flags if r["m1"]] == [4]

    ts0 = dt.datetime(2026, 1, 1, tzinfo=UTC)
    ts = _table(spark, root + "/ts", "k timestamp, v long",
                [(ts0 + dt.timedelta(hours=n), n) for n in range(24)])
    for zone in ("UTC", "America/New_York"):
        _check(spark, ts, probes, [
            ({"k": [ts0 + dt.timedelta(hours=5)]}, True),
            # naive: an instant in the process-local zone, as F.lit reads it
            ({"k": [dt.datetime(2026, 1, 1, h) for h in range(0, 24, 5)]}, True),
            ({"k": ["2026-01-01T07:00:00+00:00", 17]}, True),  # epoch ints: dropped
        ], zone=zone)


def test_probe_agrees_with_residual_on_ntz_across_dst(spark, tmp_path, probes):
    """NTZ keys compare at the session-zone wall clock (``_stored``), and
    the residual compares the same wall clock, so a probe at the
    2026-11-01 fold or the 2026-03-08 gap in New York is pruned too."""
    jan = dt.datetime(2026, 1, 10)
    fold = dt.datetime(2026, 11, 1)
    gap = dt.datetime(2026, 3, 8)
    walls = ([jan + dt.timedelta(hours=h) for h in range(24)]
             + [fold + dt.timedelta(minutes=30 + 60 * h) for h in range(4)]
             + [gap + dt.timedelta(minutes=30 + 60 * h) for h in range(4)])
    t = _table(spark, str(tmp_path / "ntz"), "k timestamp_ntz, v long",
               [(w, n) for n, w in enumerate(walls)])
    cases = []
    for h in range(0, 24, 3):
        wall = jan + dt.timedelta(hours=h)
        cases.append(({"k": [wall]}, True))  # naive: process-zone instant
        cases.append(({"k": [wall.replace(tzinfo=UTC)]}, True))
    cases += [
        ({"k": [dt.datetime(2026, 11, 1, 5, 30, tzinfo=UTC)]}, True),  # 01:30 EDT
        ({"k": [dt.datetime(2026, 11, 1, 6, 30, tzinfo=UTC)]}, True),  # 01:30 EST
        ({"k": [dt.datetime(2026, 3, 8, 6, 30, tzinfo=UTC)]}, True),  # 01:30 EST
        ({"k": [dt.datetime(2026, 3, 8, 7, 30, tzinfo=UTC)]}, True),  # 03:30 EDT
        ({"k": [fold + dt.timedelta(minutes=90), gap + dt.timedelta(minutes=150)]}, True),
    ]
    _check(spark, t, probes, cases, zone="America/New_York")


def test_probe_composite_key_and_job_count(spark, tmp_path, probes):
    t = _table(spark, str(tmp_path / "c"), "a string, b int, v long",
               [(f"a{n % 7}", n % 5, n) for n in range(70)], ["a", "b"])
    _check(spark, t, probes, [
        ({"a": ["a1", "a3"], "b": [2, 4]}, True),
        ({"a": ["a1", None], "b": [None, 3, "4"]}, True),
        ({"a": ["a2"]}, False),  # misses a key column
        ({"a": [f"a{n}" for n in range(70)], "b": list(range(70))}, False),
    ])
    # planning a lookup runs no Spark job, pruned or not, hit or miss
    sc = spark.sparkContext
    sc.setJobGroup("lookup_plan", "counting lookup planning jobs", True)
    try:
        for where_in in ({"a": ["a1"], "b": [1]},
                         {"a": ["a1", "a2", "zz"], "b": [1, 2, 3]},
                         {"a": ["zz"], "b": [99]}):
            t.plan(where_in=where_in)
        t.read(where_in={"a": ["a1"], "b": [None]}).collect()  # empty plan
        assert sc.statusTracker().getJobIdsForGroup("lookup_plan") == []
    finally:
        sc.setJobGroup("", "")
