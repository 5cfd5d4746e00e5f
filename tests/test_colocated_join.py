"""Storage-partitioned join (lake/join.py): zero-shuffle equi-join of
co-bucketed LakeTables must equal a plain Spark join on the same frames —
including NULL-key semantics, many-to-many keys, schema evolution, and
type widening — with NO Exchange in the physical plan."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ton_etl_spark.lake.join import colocated_join
from ton_etl_spark.lake.table import LakeTable


def _pair(spark, tmp_path, n_buckets=8):
    docs = spark.range(300).selectExpr(
        "id AS doc_id", "concat('d', id) AS text"
    )
    embs = spark.range(250).selectExpr(
        "id AS doc_id",
        "array(cast(id AS float), cast(id % 7 AS float)) AS emb",
        "cast(id % 3 AS int) AS grp",
    )
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=docs.schema,
                         key_cols=["doc_id"], n_buckets=n_buckets)
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=embs.schema,
                         key_cols=["doc_id"], n_buckets=n_buckets)
    l.append(docs, commit_key="seed")
    r.append(embs, commit_key="seed")
    return l, r


def _rows(df):
    def norm(v):
        return tuple(v) if isinstance(v, list) else v

    return sorted(
        (tuple(norm(v) for v in row) for row in df.collect()), key=repr
    )


def test_colocated_join_equals_spark_join_and_never_shuffles(spark, tmp_path):
    l, r = _pair(spark, tmp_path)
    for how in ("inner", "left"):
        got = colocated_join(l, r, how=how)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{how} join shuffled:\n{plan}"
        assert "MapInArrow" in plan
        want = l.read().join(r.read(), "doc_id", how)
        assert sorted(got.columns) == sorted(want.columns)
        assert _rows(got.select(*want.columns)) == _rows(want)


def test_colocated_join_null_keys_and_duplicates(spark, tmp_path):
    """SQL semantics under the adversarial cases: NULL keys match nothing
    (inner) / survive unmatched (left); duplicate keys on both sides
    produce the full many-to-many cross product."""
    ldata = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "n1"), (2, "c"), (7, "x")],
        "k long, lv string",
    )
    rdata = spark.createDataFrame(
        [(1, "p"), (1, "q"), (None, "n2"), (2, "r")], "k long, rv string"
    )
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=ldata.schema,
                         key_cols=["k"], n_buckets=4)
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=rdata.schema,
                         key_cols=["k"], n_buckets=4)
    l.append(ldata, commit_key="s")
    r.append(rdata, commit_key="s")
    for how in ("inner", "left"):
        got = colocated_join(l, r, how=how)
        want = l.read().join(r.read(), "k", how)
        assert _rows(got.select(*want.columns)) == _rows(want), how
    # the k=1 block really is many-to-many: 2 x 2
    assert colocated_join(l, r).where("k = 1").count() == 4


def test_colocated_join_schema_evolution_and_widening(spark, tmp_path):
    """Old files missing a late-added column yield typed NULLs, and an
    int->long widened column (and an array<int>->array<bigint> payload)
    casts per file — the same contract as LakeTable.read, left to the
    scan.  Ranges on the widened column across both eras, and on a column
    the right side added later, keep exactly the rows ``read(where=)``
    keeps, for inner and left joins."""
    base = spark.createDataFrame([(i, i * 10, [i]) for i in range(100)],
                                 "k long, v int, a array<int>")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=base.schema,
                         key_cols=["k"], n_buckets=4, type_widening=True)
    l.append(base, commit_key="old-era")
    evolved = spark.createDataFrame(
        [(i, i * 10_000_000_000, [i, i * 10_000_000_000], f"s{i}")
         for i in range(100, 160)],
        "k long, v long, a array<bigint>, extra string",
    )
    l.append(evolved, commit_key="new-era")  # widens v and a, adds extra
    rdata = spark.range(100).selectExpr("id AS k", "id % 5 AS tag")
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=rdata.schema,
                         key_cols=["k"], n_buckets=4)
    r.append(rdata, commit_key="s")
    r.append(spark.range(100, 160).selectExpr("id AS k", "id % 5 AS tag",
                                              "id * 3 AS late"),
             commit_key="late-era")  # adds late
    got = colocated_join(l, r)
    assert got.schema["v"].dataType == T.LongType()
    assert got.schema["a"].dataType == T.ArrayType(T.LongType())
    # old-era rows carry NULL extra, new-era the real value
    assert got.where("k < 100 AND extra IS NULL").count() == 100
    assert got.where("k >= 100 AND extra IS NOT NULL").count() == 60

    v_range = {"v": (500, 1_200_000_000_000)}  # old era k >= 50, new era k <= 120
    late_range = {"late": (None, 400)}  # late-era rows only, k <= 133
    for how in ("inner", "left"):
        for lw, rw in ((None, None), (v_range, None), (None, late_range),
                       (v_range, late_range)):
            got = colocated_join(l, r, how=how, left_where=lw, right_where=rw)
            want = l.read(where=lw).join(r.read(where=rw), "k", how)
            assert _rows(got.select(*want.columns)) == _rows(want), (how, lw, rw)


def test_colocated_join_column_selection_prunes_and_errors(spark, tmp_path):
    l, r = _pair(spark, tmp_path)
    out = colocated_join(l, r, right_columns=["grp"])
    assert out.columns == ["doc_id", "text", "grp"]
    want = l.read().join(r.read().select("doc_id", "grp"), "doc_id")
    assert _rows(out) == _rows(want)
    with pytest.raises(ValueError, match="not a right payload column"):
        colocated_join(l, r, right_columns=["doc_id"])
    with pytest.raises(ValueError, match="not a left payload column"):
        colocated_join(l, r, left_columns=["nope"])


def test_colocated_join_payload_overlap_errors(spark, tmp_path):
    d = spark.range(10).selectExpr("id AS k", "id AS same")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=d.schema,
                         key_cols=["k"], n_buckets=2)
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=d.schema,
                         key_cols=["k"], n_buckets=2)
    l.append(d, commit_key="s")
    r.append(d, commit_key="s")
    with pytest.raises(ValueError, match="both sides"):
        colocated_join(l, r)
    out = colocated_join(l, r, right_columns=[])
    assert out.columns == ["k", "same"] and out.count() == 10


def test_colocated_join_layout_mismatch_errors(spark, tmp_path):
    d = spark.range(10).selectExpr("id AS k", "id AS v")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=d.schema,
                         key_cols=["k"], n_buckets=4)
    r8 = LakeTable.create(spark, str(tmp_path / "r8"), schema=d.schema,
                          key_cols=["k"], n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets differ"):
        colocated_join(l, r8)
    rk = LakeTable.create(
        spark, str(tmp_path / "rk"),
        schema=spark.range(1).selectExpr("id AS v", "id AS k").schema,
        key_cols=["v"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="key_cols differ"):
        colocated_join(l, rk)
    rt = LakeTable.create(
        spark, str(tmp_path / "rt"),
        schema=spark.range(1).selectExpr("cast(id AS string) AS k").schema,
        key_cols=["k"], n_buckets=4,
    )
    with pytest.raises(ValueError, match="types differ"):
        colocated_join(l, rt)


def test_colocated_join_cdc_defaults_to_live_state(spark, tmp_path):
    """A CDC side joins as its LIVE state by default — the same view
    read_state and the lookup CLI answer: tombstoned keys vanish (inner)
    or miss (left), op='d' rows never reach the output — and the result
    equals read_state ⋈ dim on a real replayed log.  cdc='raw' opts back
    into storage rows (tombstones included)."""
    from ton_etl_spark.cdc.apply import (
        apply_cdc_batch,
        make_sequences_table,
        read_state,
    )
    from ton_etl_spark.cdc.generator import generate_cdc_log, write_cdc_log

    t = make_sequences_table(spark, str(tmp_path / "cdc"), n_buckets=4)
    dirs = write_cdc_log(
        generate_cdc_log(spark, 1500, seed=83), str(tmp_path / "log"),
        n_batches=3, dup_pct=10, seed=83,
    )
    for epoch, d in enumerate(dirs):
        apply_cdc_batch(t, spark.read.parquet(d), epoch=epoch)
    state = read_state(t)
    assert state.count() < t.read().count(), "log produced no tombstones"

    dim = state.select("doc_id").withColumn(
        "dim_tag", F.concat(F.lit("dim-"), F.col("doc_id"))
    )
    # dim covers live keys AND some tombstoned ones
    dead = t.read().where("op = 'd'").select("doc_id").limit(5)
    dimdf = dim.unionByName(
        dead.withColumn("dim_tag", F.lit("dim-dead"))
    ).distinct()
    r = LakeTable.create(spark, str(tmp_path / "dim"), schema=dimdf.schema,
                         key_cols=["doc_id"], n_buckets=4)
    r.append(dimdf, commit_key="s")

    got = colocated_join(t, r, left_columns=["n_tok"])
    want = state.select("doc_id", "n_tok").join(
        r.read().select("doc_id", "dim_tag"), "doc_id"
    )
    assert _rows(got.select(*want.columns)) == _rows(want)
    assert "op" not in got.columns  # the internal filter column never leaks

    raw = colocated_join(t, r, left_columns=["n_tok", "op"], cdc="raw")
    want_raw = t.read().select("doc_id", "n_tok", "op").join(
        r.read().select("doc_id", "dim_tag"), "doc_id"
    )
    assert _rows(raw.select(*want_raw.columns)) == _rows(want_raw)
    assert raw.where("op = 'd'").count() > 0

    with pytest.raises(ValueError, match="cdc must be"):
        colocated_join(t, r, cdc="nope")


def test_colocated_join_empty_sides_and_version_pinning(spark, tmp_path):
    d = spark.range(50).selectExpr("id AS k", "id AS v")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=d.schema,
                         key_cols=["k"], n_buckets=4)
    r = LakeTable.create(
        spark, str(tmp_path / "r"),
        schema=spark.range(1).selectExpr("id AS k", "id AS w").schema,
        key_cols=["k"], n_buckets=4,
    )
    l.append(d, commit_key="s")
    # right empty: inner -> 0 rows, left -> all left rows with NULL w
    assert colocated_join(l, r).count() == 0
    lo = colocated_join(l, r, how="left")
    assert lo.count() == 50 and lo.where("w IS NULL").count() == 50
    v_empty = r.current_version()
    r.append(spark.range(20).selectExpr("id AS k", "id*2 AS w"),
             commit_key="late")
    assert colocated_join(l, r).count() == 20
    # version pinning reads the co-bucketed PAST
    assert colocated_join(l, r, right_version=v_empty).count() == 0


def test_colocated_join_where_pushdown_prunes_and_filters(spark, tmp_path):
    """left_where/right_where: files outside the range are NEVER OPENED
    (proved by corrupting them), the residual is exact, and right_where on
    a LEFT join has ON-clause semantics (narrows matches, keeps every
    left row) — the form a post-join WHERE cannot express."""
    import os

    left_df = spark.range(1000).selectExpr("id AS k", "id AS lsn",
                                           "concat('l', id) AS lv")
    right_df = spark.range(1000).selectExpr("id AS k", "id AS score",
                                            "concat('r', id) AS rv")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=left_df.schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["lsn"],
                         sort_cols=["lsn"], target_file_rows=100)
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=right_df.schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["score"],
                         sort_cols=["score"], target_file_rows=100)
    l.append(left_df, commit_key="s")
    r.append(right_df, commit_key="s")

    # corrupt every file the predicates should skip — left keeps only
    # lsn>=900 files (corrupt max<900), right keeps only score<=949
    # files (corrupt min>949): if pruning ever opens one, the query
    # itself fails
    skipped = 0
    for t, col, doomed in (
        (l, "lsn", lambda b: b[1] < 900),
        (r, "score", lambda b: b[0] > 949),
    ):
        for f in t.current().files:
            if f.stats and col in f.stats and doomed(f.stats[col]):
                with open(os.path.join(t.root, f.path), "wb") as fh:
                    fh.write(b"corrupted - pruning must skip me")
                skipped += 1
    assert skipped >= 8

    got = colocated_join(l, r, left_where={"lsn": (900, None)},
                         right_where={"score": (None, 949)})
    rows = sorted((x.k, x.lv, x.rv) for x in got.collect())
    assert rows == [(i, f"l{i}", f"r{i}") for i in range(900, 950)]

    # LEFT join + right_where = ON semantics: every left row in range
    # survives; rows whose right match fell outside carry NULLs
    lo = colocated_join(l, r, how="left", left_where={"lsn": (900, None)},
                        right_where={"score": (None, 949)})
    assert lo.count() == 100
    assert lo.where("rv IS NULL").count() == 50
    # and the predicate columns didn't leak into the output
    assert set(lo.columns) == {"k", "lsn", "lv", "score", "rv"}

    with pytest.raises(ValueError, match="left_where: not in schema"):
        colocated_join(l, r, left_where={"nope": (1, 2)})


def test_colocated_join_streamed_probe_chunks(spark, tmp_path):
    """The probe (left) side streams in batch_rows-sized chunks against a
    resident build side — forcing many tiny chunks must produce exactly
    the whole-side result for inner AND left (every left row lives in one
    chunk and sees the full build side)."""
    l, r = _pair(spark, tmp_path, n_buckets=2)
    for how in ("inner", "left"):
        tiny = colocated_join(l, r, how=how, batch_rows=7)
        want = l.read().join(r.read(), "doc_id", how)
        assert _rows(tiny.select(*want.columns)) == _rows(want), how
    # and with a predicate riding the streamed side
    tiny = colocated_join(l, r, left_where={"doc_id": (100, 199)},
                          batch_rows=7)
    want = l.read(where={"doc_id": (100, 199)}).join(r.read(), "doc_id")
    assert _rows(tiny.select(*want.columns)) == _rows(want)


def test_colocated_join_inner_auto_builds_on_smaller_side(spark, tmp_path):
    """Inner joins auto-pick the smaller side (by manifest row counts —
    free metadata) as the resident build side; the swap is invisible:
    same columns, same rows, still zero Exchange."""
    small = spark.range(100).selectExpr("id AS k", "concat('s', id) AS sv")
    big = spark.range(5000).selectExpr("id AS k", "id * 2 AS bv",
                                       "array(cast(id AS float)) AS arr")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=small.schema,
                         key_cols=["k"], n_buckets=4)
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=big.schema,
                         key_cols=["k"], n_buckets=4)
    l.append(small, commit_key="s")
    r.append(big, commit_key="s")
    got = colocated_join(l, r)  # left is 50x smaller: build side swaps
    assert got.columns == ["k", "sv", "bv", "arr"]  # caller's order kept
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    want = l.read().join(r.read(), "k")
    assert _rows(got.select(*want.columns)) == _rows(want)
    # predicates follow their logical side through the swap
    got2 = colocated_join(l, r, left_where={"k": (10, 20)},
                          right_where={"bv": (None, 30)})
    want2 = (l.read().where("k BETWEEN 10 AND 20")
             .join(r.read().where("bv <= 30"), "k"))
    assert _rows(got2.select(*want2.columns)) == _rows(want2)


def test_colocated_join_randomized_differential(spark, tmp_path):
    """Seeded randomized differential: across random key types, null
    fractions, duplicate rates, bucket counts, payload shapes (incl.
    arrays), join types, and random range predicates, colocated_join
    must equal the corresponding Spark join exactly."""
    import random

    rnd = random.Random(29)
    for trial in range(6):
        nb = rnd.choice([2, 3, 8])
        key_is_str = rnd.random() < 0.5
        ktype = "string" if key_is_str else "long"

        def mk_key(i):
            if rnd.random() < 0.08:
                return None
            v = rnd.randint(0, 40)  # small domain: forced duplicates
            return f"k{v}" if key_is_str else v

        lrows = [(mk_key(i), rnd.randint(0, 10**6),
                  [float(rnd.randint(0, 9)) for _ in range(3)])
                 for i in range(rnd.randint(30, 120))]
        rrows = [(mk_key(i), f"p{rnd.randint(0, 99)}")
                 for i in range(rnd.randint(10, 120))]
        ldf = spark.createDataFrame(lrows, f"k {ktype}, num long, vec array<double>")
        rdf = spark.createDataFrame(rrows, f"k {ktype}, tag string")
        lt = LakeTable.create(spark, str(tmp_path / f"l{trial}"),
                              schema=ldf.schema, key_cols=["k"], n_buckets=nb,
                              stats_cols=["num"])
        rt = LakeTable.create(spark, str(tmp_path / f"r{trial}"),
                              schema=rdf.schema, key_cols=["k"], n_buckets=nb)
        lt.append(ldf, commit_key="s")
        rt.append(rdf, commit_key="s")

        how = rnd.choice(["inner", "left"])
        lw = None
        if rnd.random() < 0.5:
            lo = rnd.randint(0, 10**6)
            lw = {"num": (lo, lo + rnd.randint(0, 10**6))}
        got = colocated_join(lt, rt, how=how, left_where=lw,
                             batch_rows=rnd.choice([4, 1 << 16]))
        lread = lt.read()
        if lw:
            (lo, hi) = lw["num"]
            lread = lread.where(f"num >= {lo} AND num <= {hi}")
        want = lread.join(rt.read(), "k", how)
        assert _rows(got.select(*want.columns)) == _rows(want), (
            trial, how, nb, ktype, lw
        )


def test_colocated_join_ntz_range_in_non_utc_session_zone(spark, tmp_path):
    """A ``timestamp_ntz`` range in a Tokyo session: the Arrow kernel must
    keep exactly the rows Spark's residual keeps, which compares NTZ
    values at the session zone's wall clock (03:30 UTC is 12:30 in Tokyo),
    not at the bound's UTC wall clock."""
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12)  # NTZ wall clocks 12:00-13:59
    lt = spark.createDataFrame([(i, base + dt.timedelta(minutes=i)) for i in range(120)],
                               "k long, ts timestamp_ntz")
    rt = spark.createDataFrame([(i, i * 10) for i in range(120)], "k long, v long")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=lt.schema, key_cols=["k"],
                         n_buckets=4, stats_cols=["ts"])
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=rt.schema, key_cols=["k"],
                         n_buckets=4)
    l.append(lt, commit_key="seed")
    r.append(rt, commit_key="seed")
    bound = dt.datetime(2026, 1, 1, 3, 30, tzinfo=dt.timezone.utc)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        for where in ({"ts": (bound, None)}, {"ts": (None, bound)}):
            want = l.read(where=where).join(r.read(), "k").select("k", "ts", "v")
            got = colocated_join(l, r, left_where=where)
            assert _rows(got) == _rows(want), where
        assert len(_rows(colocated_join(l, r, left_where={"ts": (bound, None)}))) == 90
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_colocated_join_datetime_bounds_on_date_column(spark, tmp_path):
    """Datetime range bounds on a ``date`` column, in a UTC and a Tokyo
    session: the Arrow kernel must keep exactly the rows Spark's residual
    keeps, which compares each date at its session-zone midnight (a lower
    bound of 03:00 on the 5th excludes the 5th), not the bound truncated
    to its date."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    day0 = dt.date(2026, 1, 1)
    lt = spark.createDataFrame([(i, day0 + dt.timedelta(days=i)) for i in range(10)],
                               "k long, d date")
    rt = spark.createDataFrame([(i, i * 10) for i in range(10)], "k long, v long")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=lt.schema, key_cols=["k"],
                         n_buckets=2, stats_cols=["d"])
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=rt.schema, key_cols=["k"],
                         n_buckets=2)
    l.append(lt, commit_key="seed")
    r.append(rt, commit_key="seed")
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            midnight = dt.datetime(2026, 1, 5, tzinfo=ZoneInfo(tz))
            cases = [
                (dt.datetime(2026, 1, 5, 3, 0), None),  # naive
                (None, dt.datetime(2026, 1, 5, 3, 0)),
                (midnight, midnight),
                (midnight + dt.timedelta(hours=1), None),
                (midnight - dt.timedelta(seconds=1), midnight + dt.timedelta(days=2, hours=23)),
                (None, midnight - dt.timedelta(seconds=1)),
            ]
            for lo, hi in cases:
                where = {"d": (lo, hi)}
                want = l.read(where=where).join(r.read(), "k").select("k", "d", "v")
                got = colocated_join(l, r, left_where=where)
                assert _rows(got) == _rows(want), (tz, lo, hi)
            got = colocated_join(l, r, left_where={"d": (midnight + dt.timedelta(hours=3), None)})
            assert sorted(row["k"] for row in got.collect()) == list(range(5, 10)), tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def _ntz_dst_pair(spark, tmp_path):
    """Left: NTZ wall clocks every 15 minutes from midnight of the New York
    DST fold (keys 0-15) and gap (keys 16-31) days; right: one value per
    key."""
    import datetime as dt

    walls = [dt.datetime(2026, 11, 1) + dt.timedelta(minutes=15 * i) for i in range(16)]
    walls += [dt.datetime(2026, 3, 8) + dt.timedelta(minutes=15 * i) for i in range(16)]
    lt = spark.createDataFrame(list(enumerate(walls)), "k long, ts timestamp_ntz")
    rt = spark.createDataFrame([(i, i * 10) for i in range(32)], "k long, v long")
    l = LakeTable.create(spark, str(tmp_path / "l"), schema=lt.schema, key_cols=["k"],
                         n_buckets=4, stats_cols=["ts"], sort_cols=["ts"],
                         target_file_rows=4)
    r = LakeTable.create(spark, str(tmp_path / "r"), schema=rt.schema, key_cols=["k"],
                         n_buckets=4)
    l.append(lt, commit_key="seed")
    r.append(rt, commit_key="seed")
    return l, r


def test_colocated_join_ntz_bounds_agree_with_read_across_dst(spark, tmp_path):
    """NTZ bounds at the New York fold (2026-11-01) and gap (2026-03-08) in
    a New York and a ``PST`` (a short zone id) session: the Arrow kernel
    keeps exactly the rows ``read(where=)`` keeps, both comparing the
    bound's session-zone wall clock with the stored wall clock (06:30Z is
    01:30 EST, so the first 01:30 row, written before the fold, is kept).
    ``tests/test_scan_plan.py`` runs the same surfaces in UTC and Tokyo
    sessions too."""
    import datetime as dt

    utc = dt.timezone.utc
    l, r = _ntz_dst_pair(spark, tmp_path)
    cases = [
        (dt.datetime(2026, 11, 1, 6, 30, tzinfo=utc), None),  # 01:30 EST
        (dt.datetime(2026, 11, 1, 6, tzinfo=utc), None),  # 01:00 EST
        (dt.datetime(2026, 11, 1, 5, 30, tzinfo=utc), dt.datetime(2026, 11, 1, 6, 30, tzinfo=utc)),
        (dt.datetime(2026, 3, 8, 7, 10, tzinfo=utc), None),  # 03:10 EDT
        (dt.datetime(2026, 3, 8, 1), dt.datetime(2026, 3, 8, 6, 50, tzinfo=utc)),  # naive lo
    ]
    got = {}
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("America/New_York", "PST"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            for lo, hi in cases:
                where = {"ts": (lo, hi)}
                want = l.read(where=where).join(r.read(), "k").select("k", "ts", "v")
                got[tz, lo, hi] = _rows(colocated_join(l, r, left_where=where))
                assert got[tz, lo, hi] == _rows(want), (tz, lo, hi)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    ny = "America/New_York"
    assert sorted(row[0] for row in got[(ny, *cases[0])]) == list(range(6, 16))
    assert sorted(row[0] for row in got[(ny, *cases[1])]) == list(range(4, 16))
    assert sorted(row[0] for row in got[(ny, *cases[3])]) == [*range(16), 29, 30, 31]
    assert len(got["PST", *cases[0]]) == 16  # 06:30Z is 22:30 PDT the day before


def test_colocated_join_refuses_datetime_bounds_without_session_zone(
    spark, tmp_path, monkeypatch
):
    """When Python cannot resolve the session zone, a datetime bound on an
    NTZ column has no stored form: ``read`` keeps Spark's own comparison
    and skips no file, and the join, whose kernel has no other rule,
    raises instead of comparing the raw bound."""
    import datetime as dt

    import ton_etl_spark.lake.table as table_mod

    l, r = _ntz_dst_pair(spark, tmp_path)
    monkeypatch.setattr(table_mod, "_session_zone", lambda zone_id: None)
    where = {"ts": (dt.datetime(2026, 11, 1, 6, 30, tzinfo=dt.timezone.utc), None)}
    assert len(l.plan(where=where).files) == len(l.current().files)
    want = l.read().where(F.col("ts") >= F.lit(where["ts"][0]))
    assert _rows(l.read(where=where)) == _rows(want)
    with pytest.raises(ValueError, match="session time zone"):
        colocated_join(l, r, left_where=where)
    # a bound on a column that stores no wall clock needs no zone
    assert _rows(colocated_join(l, r, left_where={"k": (30, None)})) == [
        (30, dt.datetime(2026, 3, 8, 3, 30), 300), (31, dt.datetime(2026, 3, 8, 3, 45), 310)]
