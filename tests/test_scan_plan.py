"""One scan plan, three surfaces: ``read(where=, where_in=)``,
``delete_where`` and ``update_where`` all scope their work through
``LakeTable.plan`` (conformance, bucket probe, stats skipping, residual).
A seeded differential test draws random predicates over a table where
every skipping layer fires — ``stats_cols`` bounds, ``bloom_cols``,
several files per bucket — and checks each surface, in both
``file_granular`` modes, against a Python oracle over the same rows.

The predicates cover the conformance edges: a NULL probe (never
matches), unrepresentable probes ('abc' and 7.5 on a long key: dropped),
string probes on the long key (parsed), a range on a column holding
NULLs (never match), int and bigint bounds beyond the column's range
(±2**40, ±2**70), tombstone rows (deleted when
``protect_tombstones=False``), and naive-datetime bounds in a session
whose ``spark.sql.session.timeZone`` differs from the process-local zone.
The oracle takes a naive bound's instant from Spark's own reading of the
literal, so skipping must agree with the residual filter, not with the
session time zone."""

import datetime as dt
import functools
import itertools
import random
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ton_etl_spark.lake.maintenance import delete_where, update_where
from ton_etl_spark.lake.table import LakeTable

_BASE = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_N = 160


def _rows(rng):
    lsns = list(range(_N))
    rng.shuffle(lsns)  # arrival order is not lsn order
    out = []
    for k, lsn in enumerate(lsns):
        op = "d" if rng.random() < 0.1 else "u"
        v = None if rng.random() < 0.15 else rng.randint(-20, 20)
        out.append((k, op, lsn, _BASE + dt.timedelta(minutes=lsn), v, 0, f"s{k % 5}"))
    return out


def _predicates(rng):
    """Four seeded predicates, each forced to carry conformance edges,
    plus random extra terms, then six with integral bounds beyond their
    column's range."""

    def keys(n):
        return rng.sample(range(_N + 20), n)  # some never-seen keys

    def lsn_range():
        lo = rng.randint(0, _N - 1)
        return rng.choice([(lo, lo + rng.randint(0, 60)), (lo, None), (None, lo)])

    def ts_range():
        # naive bounds: the residual reads them in the process-local zone
        lo = (_BASE + dt.timedelta(minutes=rng.randint(0, _N))).replace(tzinfo=None)
        return rng.choice([(lo, lo + dt.timedelta(minutes=rng.randint(0, 90))),
                           (lo, None), (None, lo)])

    preds = [
        ({}, {"k": keys(5) + [None, "abc", 7.5] + [str(k) for k in keys(4)]}),
        ({"ts": ts_range()}, {"v": [rng.randint(-20, 20) for _ in range(8)] + [None]}),
        ({"v": (rng.randint(-20, 0), rng.randint(0, 20))}, {}),
        ({"lsn": lsn_range()}, {"k": keys(40)}),
    ]
    for where, where_in in preds:
        extra = rng.choice(["none", "lsn", "ts", "s"])
        if extra == "lsn" and "lsn" not in where:
            where["lsn"] = lsn_range()
        elif extra == "ts" and "ts" not in where:
            where["ts"] = ts_range()
        elif extra == "s":
            where_in["s"] = [f"s{rng.randint(0, 5)}", rng.randint(0, 3)]
    # integral bounds beyond the column's range: on the excluding side
    # they match no row, on the other side they are open (NULL still
    # never matches); ``v`` is an int column, ``lsn`` and ``k`` bigint
    return preds + [
        ({"v": (2**40, None)}, {}),
        ({"v": (-2**40, rng.randint(-20, 20))}, {}),
        ({"v": (rng.randint(-20, 20), 2**40)}, {"k": keys(40)}),
        ({"lsn": (2**70, None)}, {}),
        ({"lsn": (-2**70, 2**70)}, {"k": keys(40)}),
        ({"k": (None, -2**70)}, {}),
    ]


def _as_long(v):
    if isinstance(v, str):
        return int(v) if v.lstrip("-").isdigit() else None
    if isinstance(v, float):
        return int(v) if v.is_integer() else None
    return v


def _oracle(spark, rows, where, where_in):
    """Keys of the rows the predicate matches.  NULL never matches."""

    def micros(v):
        if v is None:
            return None
        return spark.range(1).select(F.unix_micros(F.lit(v))).first()[0]

    ranges = {}
    for c, (lo, hi) in where.items():
        ranges[c] = (micros(lo), micros(hi)) if c == "ts" else (lo, hi)
    probes = {
        "k": {_as_long(x) for x in where_in.get("k", [])} - {None},
        "v": set(where_in.get("v", [])) - {None},
        "s": {str(x) for x in where_in.get("s", [])},
    }
    out = set()
    for r in rows:
        vals = {"k": r[0], "lsn": r[2], "v": r[4], "s": r[6],
                "ts": int(r[3].timestamp()) * 1_000_000}
        ok = all(
            vals[c] is not None
            and (lo is None or vals[c] >= lo)
            and (hi is None or vals[c] <= hi)
            for c, (lo, hi) in ranges.items()
        ) and all(vals[c] in probes[c] for c in where_in)
        if ok:
            out.add(r[0])
    return out


def test_read_delete_update_agree_with_oracle(spark, tmp_path):
    rng = random.Random(20261017)
    rows = _rows(rng)
    schema = spark.createDataFrame(
        [], "k long, op string, lsn long, ts timestamp, v int, u int, s string"
    ).schema
    base = LakeTable.create(
        spark, str(tmp_path / "base"), schema=schema, key_cols=["k"],
        n_buckets=4, stats_cols=["k", "lsn", "ts", "v"], sort_cols=["lsn"],
        bloom_cols=["k"], target_file_rows=10,
    )
    base.append(spark.createDataFrame(rows, schema), commit_key="seed")
    assert len(base.current().files) > 8  # several files per bucket
    all_keys = {r[0] for r in rows}
    copies = itertools.count()

    def fresh():
        root = str(tmp_path / f"c{next(copies)}")
        shutil.copytree(base.root, root)
        return LakeTable.load(spark, root)

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        for where, where_in in _predicates(rng):
            want = _oracle(spark, rows, where, where_in)
            ctx = (where, where_in)
            got = {r["k"] for r in base.read(where=where, where_in=where_in).collect()}
            assert got == want, ctx
            for fg in (False, True):
                # update, then delete with the same predicate on one copy:
                # ``u`` is in no predicate, so both match the same rows
                t = fresh()
                u = update_where(t, {"u": F.lit(1)}, where=where,
                                 where_in=where_in, file_granular=fg)
                assert u["updated_rows"] == len(want), (ctx, fg)
                d = delete_where(t, where, where_in=where_in,
                                 protect_tombstones=False, file_granular=fg)
                assert d["deleted_rows"] == len(want), (ctx, fg)
                left = {r["k"]: r["u"] for r in t.read().collect()}
                assert all_keys - set(left) == want, (ctx, fg)
                # no row outside the predicate was updated
                assert not any(left.values()), (ctx, fg)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_ntz_skipping_agrees_with_residual_in_any_session_zone(spark, tmp_path):
    """``timestamp_ntz`` footer stats are wall clocks, and Spark compares an
    NTZ column with a datetime literal at the session zone's wall clock.
    ``read`` must return exactly what the residual returns over every file,
    in UTC, New York and Tokyo sessions — bounds and probes at a DST fold
    (2026-11-01) and gap (2026-03-08) included — while still skipping."""
    from zoneinfo import ZoneInfo

    utc = dt.timezone.utc
    jan = dt.datetime(2026, 1, 1, 12)
    nov = dt.datetime(2026, 11, 1, 0, 50)  # spans the New York DST fold
    mar = dt.datetime(2026, 3, 8, 1, 30)  # spans the New York DST gap
    rows = ([(i, jan + dt.timedelta(minutes=i)) for i in range(100)]  # 12:00-13:39
            + [(100 + i, nov + dt.timedelta(minutes=5 * i)) for i in range(30)]
            + [(200 + i, mar + dt.timedelta(minutes=5 * i)) for i in range(30)])
    schema = spark.createDataFrame([], "k long, ts timestamp_ntz").schema
    t = LakeTable.create(spark, str(tmp_path / "ntz"), schema=schema, key_cols=["k"],
                         n_buckets=1, stats_cols=["ts"], sort_cols=["ts"],
                         target_file_rows=10)
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")
    bound = jan.replace(minute=50)  # naive: an instant in the process zone
    fold1 = dt.datetime(2026, 11, 1, 5, 30, tzinfo=utc)  # New York 01:30 EDT
    fold2 = dt.datetime(2026, 11, 1, 6, 30, tzinfo=utc)  # New York 01:30 EST
    gap_before = dt.datetime(2026, 3, 8, 6, 50, tzinfo=utc)  # New York 01:50 EST
    gap_after = dt.datetime(2026, 3, 8, 7, 10, tzinfo=utc)  # New York 03:10 EDT
    cases = [
        ({"ts": (bound, None)}, {}),
        ({"ts": (None, bound)}, {}),
        ({"ts": (bound, bound + dt.timedelta(minutes=10))}, {}),
        ({"ts": (None, fold2)}, {}),
        ({"ts": (fold1, None)}, {}),
        ({"ts": (fold2, None)}, {}),
        ({"ts": (gap_after, None)}, {}),
        ({"ts": (None, gap_before)}, {}),
        ({}, {"ts": [bound, dt.datetime(2026, 1, 1, 17, 50, tzinfo=utc),
                     dt.datetime(2026, 1, 1, 3, 50, tzinfo=utc), fold1, fold2]}),
    ]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            plans = [t.plan(where=w, where_in=wi) for w, wi in cases]
            flags = t.read().select(
                "k", *[p.residual.alias(f"m{i}") for i, p in enumerate(plans)]
            ).collect()
            # every case's skipping read in one job
            got_rows = functools.reduce(DataFrame.unionByName, [
                t.read(where=w, where_in=wi).select("k", F.lit(i).alias("case"))
                for i, (w, wi) in enumerate(cases)
            ]).collect()
            for i, (w, wi) in enumerate(cases):
                want = {r["k"] for r in flags if r[f"m{i}"]}
                got = {r["k"] for r in got_rows if r["case"] == i}
                assert got == want, (tz, w, wi)
            # still skipping: 12:50-13:00 at this zone's wall clock spans 2 files
            wall = jan.replace(minute=50, tzinfo=ZoneInfo(tz))
            span = (wall, wall + dt.timedelta(minutes=10))
            assert len(t.plan(where={"ts": span}).files) == 2, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_date_skipping_with_datetime_bounds_agrees_with_residual(spark, tmp_path):
    """Spark compares a ``date`` column with a datetime bound at the date's
    session-zone midnight, while the footer stats hold ISO dates.  20
    daily rows in 4 files: ``read(where=)`` with datetime bounds must
    return what the residual returns over every file, in a UTC and a Tokyo
    session, and still skip."""
    from zoneinfo import ZoneInfo

    utc, tokyo = dt.timezone.utc, ZoneInfo("Asia/Tokyo")
    day0 = dt.date(2026, 1, 1)
    schema = spark.createDataFrame([], "k long, d date").schema
    t = LakeTable.create(spark, str(tmp_path / "dates"), schema=schema, key_cols=["k"],
                         n_buckets=1, stats_cols=["d"], sort_cols=["d"], target_file_rows=5)
    t.append(spark.createDataFrame(
        [(i, day0 + dt.timedelta(days=i)) for i in range(20)], schema), commit_key="seed")
    assert len(t.current().files) == 4
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz, zone in (("UTC", utc), ("Asia/Tokyo", tokyo)):
            spark.conf.set("spark.sql.session.timeZone", tz)
            midnight = dt.datetime(2026, 1, 5, tzinfo=zone)  # this session's 2026-01-05
            cases = [
                (dt.datetime(2026, 1, 5), dt.datetime(2026, 1, 5)),  # naive
                (midnight, midnight),
                (midnight - dt.timedelta(hours=1), midnight + dt.timedelta(hours=1)),
                (midnight + dt.timedelta(hours=1), None),
                (None, midnight - dt.timedelta(seconds=1)),
                (dt.datetime(2026, 1, 12, 12, tzinfo=utc), dt.datetime(2026, 1, 14, tzinfo=utc)),
            ]
            for lo, hi in cases:
                p = t.plan(where={"d": (lo, hi)})
                want = {r["k"] for r in t.read().where(p.residual).collect()}
                got = {r["k"] for r in t.read(where={"d": (lo, hi)}).collect()}
                assert got == want, (tz, lo, hi)
            assert {r["k"] for r in t.read(where={"d": (midnight, midnight)}).collect()} == {4}
            assert len(t.plan(where={"d": (midnight, midnight)}).files) == 1, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_ntz_and_date_predicates_agree_across_surfaces(spark, tmp_path):
    """One NTZ or date predicate, one answer: ``read``,
    ``read_state(where_in=)``, ``colocated_join(left_where=)``,
    ``update_where`` and ``delete_where`` return the rows Spark selects
    when it compares the stored values with the predicate's session-zone
    wall clock (``F.lit(v).cast("timestamp_ntz")``) or, on the date
    column, at each date's session-zone midnight.  Bounds and probes sit
    at the New York DST fold (2026-11-01) and gap (2026-03-08), in UTC,
    New York, Tokyo and ``PST`` (a short zone id) sessions."""
    from ton_etl_spark.cdc.apply import read_state
    from ton_etl_spark.lake.join import colocated_join

    utc = dt.timezone.utc
    walls = [dt.datetime(2026, 11, 1) + dt.timedelta(minutes=15 * i) for i in range(16)]
    walls += [dt.datetime(2026, 3, 8) + dt.timedelta(minutes=15 * i) for i in range(16)]
    rows = [(k, "d" if k % 7 == 3 else "u", k, w, dt.date(2026, 3, 5) + dt.timedelta(days=k // 4))
            for k, w in enumerate(walls)]
    schema = spark.createDataFrame([], "k long, op string, lsn long, ts timestamp_ntz, d date").schema
    base = LakeTable.create(spark, str(tmp_path / "base"), schema=schema, key_cols=["k"],
                            n_buckets=4, stats_cols=["ts", "d"], sort_cols=["ts"],
                            target_file_rows=4)
    base.append(spark.createDataFrame(rows, schema), commit_key="seed")
    right = LakeTable.create(spark, str(tmp_path / "right"),
                             schema=spark.createDataFrame([], "k long, v long").schema,
                             key_cols=["k"], n_buckets=4)
    right.append(spark.createDataFrame([(k, k) for k in range(32)], "k long, v long"))
    fold1, fold2 = (dt.datetime(2026, 11, 1, h, 30, tzinfo=utc) for h in (5, 6))
    gap_lo, gap_hi = dt.datetime(2026, 3, 8, 6, 50, tzinfo=utc), dt.datetime(2026, 3, 8, 7, 10, tzinfo=utc)
    ny_midnight = dt.datetime(2026, 3, 8, 5, tzinfo=utc)
    cases = [
        ({"ts": (fold2, None)}, {}),
        ({"ts": (None, gap_lo)}, {}),
        ({"ts": (gap_hi, fold1)}, {}),
        ({"d": (ny_midnight, dt.datetime(2026, 3, 10, 12, tzinfo=utc))}, {}),
        ({}, {"ts": [fold1, fold2, dt.datetime(2026, 3, 8, 7, 30, tzinfo=utc)]}),
        ({}, {"d": [ny_midnight, dt.datetime(2026, 3, 9, 12, tzinfo=utc)]}),
    ]

    def spark_rule(where, where_in):
        """Spark's own comparison, with NTZ values cast by Spark."""
        def lit(c, v):
            return F.lit(v).cast("timestamp_ntz") if c == "ts" else F.lit(v)
        terms = [t for c, (lo, hi) in where.items()
                 for t in ([F.col(c) >= lit(c, lo)] if lo else [])
                 + ([F.col(c) <= lit(c, hi)] if hi else [])]
        terms += [F.col(c).isin([lit(c, v) for v in vals]) for c, vals in where_in.items()]
        return functools.reduce(lambda a, b: a & b, terms)

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for i, tz in enumerate(("UTC", "America/New_York", "Asia/Tokyo", "PST")):
            spark.conf.set("spark.sql.session.timeZone", tz)
            flags = base.read().select(
                "k", "op", *[spark_rule(w, wi).alias(f"m{j}") for j, (w, wi) in enumerate(cases)]
            ).collect()
            want = [{r["k"] for r in flags if r[f"m{j}"]} for j in range(len(cases))]
            live = [{r["k"] for r in flags if r[f"m{j}"] and r["op"] != "d"}
                    for j in range(len(cases))]
            got = functools.reduce(DataFrame.unionByName, [
                base.read(where=w, where_in=wi).select("k", F.lit(j).alias("case"))
                for j, (w, wi) in enumerate(cases)
            ]).collect()
            for j, (w, wi) in enumerate(cases):
                assert {r["k"] for r in got if r["case"] == j} == want[j], (tz, w, wi)
                if wi:
                    assert {r["k"] for r in read_state(base, where_in=wi).collect()} == live[j], (tz, wi)
                else:
                    joined = colocated_join(base, right, left_where=w)
                    assert {r["k"] for r in joined.collect()} == live[j], (tz, w)
            t = LakeTable.load(spark, shutil.copytree(base.root, str(tmp_path / f"c{i}")))
            u = update_where(t, {"lsn": F.lit(-1)}, where=cases[0][0])
            assert u["updated_rows"] == len(want[0]), tz
            d = delete_where(t, where_in=cases[4][1], protect_tombstones=False)
            assert d["deleted_rows"] == len(want[4]), tz
            left = {r["k"]: r["lsn"] for r in t.read().collect()}
            assert set(range(32)) - set(left) == want[4], tz
            assert {k for k, lsn in left.items() if lsn == -1} == want[0] - want[4], tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
