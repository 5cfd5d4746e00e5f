"""File-level column statistics + data skipping (Iceberg column-metrics
role): commits harvest per-file [min, max] bounds from the Parquet footers
already opened for row counts, store them in the per-bucket manifests, and
``read(where=...)`` skips files whose bounds cannot match — proven here by
corrupting every skippable file on disk and reading anyway.  ``sort_cols``
clusters rows within buckets so the bounds are tight (the write-order /
clustering role); skipping stays an optimization only — the residual
filter keeps results exact for files with no stats at all."""

import json
import os
import random

import pytest

from pyspark.sql import functions as F

from ton_etl_spark.lake.table import DataFile, LakeTable


def _make(spark, root, n=1000, **kw):
    schema = spark.createDataFrame([], "k string, lsn long, tag string").schema
    t = LakeTable.create(spark, root, schema=schema, key_cols=["k"], n_buckets=2, **kw)
    rng = random.Random(7)
    rows = [(f"k{i}", i, f"t{i % 10}") for i in range(n)]
    rng.shuffle(rows)  # arrival order is NOT lsn order
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")
    return t


def test_stats_recorded_and_range_read_exact(spark, tmp_path):
    t = _make(spark, str(tmp_path / "s1"), stats_cols=["lsn", "tag"],
              sort_cols=["lsn"], target_file_rows=100)
    files = t.current().files
    assert len(files) > 4  # target_file_rows split the buckets
    for f in files:
        lo, hi = f.stats["lsn"]
        assert 0 <= lo <= hi <= 999
        slo, shi = f.stats["tag"]
        assert slo.startswith("t") and shi.startswith("t")
    got = {r["lsn"] for r in t.read(where={"lsn": (900, 950)}).collect()}
    assert got == set(range(900, 951))
    # string-column range too
    got = {r["tag"] for r in t.read(where={"tag": ("t3", "t4")}).collect()}
    assert got == {"t3", "t4"}


def test_skipped_files_are_never_opened(spark, tmp_path):
    """The ANN-index trick: corrupt every file whose bounds exclude the
    probe range — the pruned read must still succeed AND be exact, which is
    only possible if those files were skipped at manifest level."""
    t = _make(spark, str(tmp_path / "s2"), stats_cols=["lsn"],
              sort_cols=["lsn"], target_file_rows=100)
    lo, hi = 250, 340
    skippable = [f for f in t.current().files
                 if f.stats["lsn"][1] < lo or f.stats["lsn"][0] > hi]
    assert len(skippable) >= 3  # sorting made most files skippable
    for f in skippable:
        with open(os.path.join(t.root, f.path), "wb") as fh:
            fh.write(b"corrupt")
    got = {r["lsn"] for r in t.read(where={"lsn": (lo, hi)}).collect()}
    assert got == set(range(lo, hi + 1))


def test_sort_cols_cluster_files_disjointly(spark, tmp_path):
    """Within a bucket, sortWithinPartitions + maxRecordsPerFile must yield
    non-overlapping lsn ranges — the property that makes skipping effective."""
    t = _make(spark, str(tmp_path / "s3"), stats_cols=["lsn"],
              sort_cols=["lsn"], target_file_rows=100)
    by_bucket: dict[int, list] = {}
    for f in t.current().files:
        by_bucket.setdefault(f.bucket, []).append(f.stats["lsn"])
    for ranges in by_bucket.values():
        ranges.sort()
        for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
            assert ahi < blo, f"overlapping file ranges {ranges}"


def test_where_is_exact_without_stats(spark, tmp_path):
    """No stats_cols configured: nothing is skipped, but the residual filter
    still makes read(where=...) exact — skipping is optimization, never
    semantics.  Old manifests without a stats field load the same way."""
    t = _make(spark, str(tmp_path / "s4"), target_file_rows=100)
    assert all(f.stats is None for f in t.current().files)
    got = {r["lsn"] for r in t.read(where={"lsn": (10, 20)}).collect()}
    assert got == set(range(10, 21))
    # pre-stats manifest entry round-trips with stats=None
    f = DataFile.from_json({"path": "p", "bucket": 0, "rows": 1})
    assert f.stats is None and "stats" not in f.to_json()


def test_stats_survive_compaction_and_merge(spark, tmp_path):
    """Compaction rewrites through the same writer, so the rewritten files
    carry fresh bounds; a MERGE (pre-partitioned path) does too."""
    from ton_etl_spark.lake.maintenance import rewrite_buckets
    from ton_etl_spark.lake.merge import merge_lww

    schema = spark.createDataFrame(
        [], "k string, op string, lsn long, ts_ms long, tag string"
    ).schema
    t = LakeTable.create(spark, str(tmp_path / "s5"), schema=schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["lsn"],
                         sort_cols=["lsn"], target_file_rows=100)
    rows = [(f"k{i}", "c", i, i, f"t{i % 10}") for i in range(1000)]
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")
    # several small appends, then compact
    for i in range(3):
        t.append(spark.createDataFrame([(f"x{i}", "c", 2000 + i, 2000 + i, "tx")], schema),
                 commit_key=f"small-{i}")
    rewrite_buckets(t, commit_key="compact-1")
    assert all(f.stats and "lsn" in f.stats for f in t.current().files)
    got = {r["lsn"] for r in t.read(where={"lsn": (2000, 2010)}).collect()}
    assert got == {2000, 2001, 2002}
    # merge path (the streaming hot path) keeps recording stats
    inc = spark.createDataFrame([("k5", "u", 5000, 5000, "hot")], schema)
    merge_lww(t, inc, commit_key="m-1")
    assert all(f.stats and "lsn" in f.stats for f in t.current().files)
    assert t.read(where={"lsn": (5000, 5000)}).count() == 1


def test_manifest_json_carries_stats(spark, tmp_path):
    t = _make(spark, str(tmp_path / "s6"), stats_cols=["lsn"], target_file_rows=500)
    snap = t.current()
    rel = next(iter(snap.manifests.values()))
    with open(os.path.join(t.root, rel)) as fh:
        entries = json.load(fh)
    assert all("stats" in e and "lsn" in e["stats"] for e in entries)


def test_timestamp_stats_skip_and_exactness(spark, tmp_path):
    """Datetime bounds ride the ISO-8601 encoding (lexicographic ==
    chronological): a time-range read prunes files and stays exact."""
    import datetime as dt

    schema = spark.createDataFrame([], "k string, ts timestamp").schema
    t = LakeTable.create(spark, str(tmp_path / "ts"), schema=schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["ts"],
                         sort_cols=["ts"], target_file_rows=50)
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = [(f"k{i}", base + dt.timedelta(minutes=i)) for i in range(400)]
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")
    files = t.current().files
    assert all(f.stats and "ts" in f.stats for f in files)
    lo = base + dt.timedelta(minutes=350)
    want = {r["k"] for r in t.read().where(F.col("ts") >= F.lit(lo)).collect()}
    got = {r["k"] for r in t.read(where={"ts": (lo, None)}).collect()}
    assert got == want and len(want) == 50
    # files entirely below the probe are skippable — corrupt and re-read
    # (stored bounds are canonical NAIVE-UTC ISO strings)
    lo_key = lo.replace(tzinfo=None).isoformat()
    skippable = [f for f in files if f.stats["ts"][1] < lo_key]
    assert skippable
    for f in skippable:
        with open(os.path.join(t.root, f.path), "wb") as fh:
            fh.write(b"x")
    assert {r["k"] for r in t.read(where={"ts": (lo, None)}).collect()} == want


def test_timestamp_skip_correct_in_non_utc_session(spark, tmp_path):
    """A naive datetime bound means PROCESS-LOCAL time to the residual
    filter (PySpark converts naive literals with ``time.mktime``, whatever
    the session time zone); the skip comparison must agree with that, not
    compare wall-clock strings against the stored UTC bounds.
    ``tests/test_scan_plan.py`` covers the session zone west of UTC, where
    pinning to the session zone instead skipped matching files."""
    import datetime as dt

    schema = spark.createDataFrame([], "k string, ts timestamp").schema
    t = LakeTable.create(spark, str(tmp_path / "tz"), schema=schema,
                         key_cols=["k"], n_buckets=1, stats_cols=["ts"],
                         sort_cols=["ts"], target_file_rows=50)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        base = dt.datetime(2026, 1, 1, 12, 0)  # naive -> Tokyo local
        rows = [(f"k{i}", base + dt.timedelta(minutes=i)) for i in range(200)]
        t.append(spark.createDataFrame(rows, schema), commit_key="seed")
        lo = base + dt.timedelta(minutes=150)  # naive Tokyo bound
        want = {r["k"] for r in t.read().where(F.col("ts") >= F.lit(lo)).collect()}
        got = {r["k"] for r in t.read(where={"ts": (lo, None)}).collect()}
        assert got == want and len(want) == 50
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_offset_style_session_tz_does_not_crash_skipping(spark, tmp_path):
    """Spark accepts offset-style timezone ids ('+09:00', 'GMT+8') that
    ZoneInfo rejects; a naive datetime bound must still read correctly —
    fixed offsets are parsed, unknown ids just disable skipping."""
    import datetime as dt

    schema = spark.createDataFrame([], "k string, ts timestamp").schema
    t = LakeTable.create(spark, str(tmp_path / "off"), schema=schema,
                         key_cols=["k"], n_buckets=1, stats_cols=["ts"],
                         sort_cols=["ts"], target_file_rows=50)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "+09:00")
        base = dt.datetime(2026, 3, 1, 12, 0)  # naive -> +09:00 local
        rows = [(f"k{i}", base + dt.timedelta(minutes=i)) for i in range(120)]
        t.append(spark.createDataFrame(rows, schema), commit_key="seed")
        lo = base + dt.timedelta(minutes=100)
        want = {r["k"] for r in t.read().where(F.col("ts") >= F.lit(lo)).collect()}
        got = {r["k"] for r in t.read(where={"ts": (lo, None)}).collect()}
        assert got == want and len(want) == 20
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lsns=st.lists(st.integers(min_value=-1000, max_value=10_000),
                  min_size=1, max_size=120),
    lo=st.one_of(st.none(), st.integers(min_value=-1500, max_value=11_000)),
    hi=st.one_of(st.none(), st.integers(min_value=-1500, max_value=11_000)),
    file_rows=st.sampled_from([7, 20, 1000]),
)
def test_where_read_equals_filter_truth_property(spark, tmp_path_factory,
                                                 lsns, lo, hi, file_rows):
    """For ANY data layout and ANY (lo, hi) range — inverted, open-ended,
    disjoint from the data, negative — read(where=...) must equal the
    plain filter over a full read.  Skipping must never change results."""
    tmp = tmp_path_factory.mktemp("whprop")
    schema = spark.createDataFrame([], "k string, lsn long").schema
    t = LakeTable.create(spark, str(tmp / "t"), schema=schema, key_cols=["k"],
                         n_buckets=2, stats_cols=["lsn"], sort_cols=["lsn"],
                         target_file_rows=file_rows)
    rows = [(f"k{i}", v) for i, v in enumerate(lsns)]
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")
    full = t.read()
    truth = full
    if lo is not None:
        truth = truth.where(F.col("lsn") >= lo)
    if hi is not None:
        truth = truth.where(F.col("lsn") <= hi)
    want = {(r["k"], r["lsn"]) for r in truth.collect()}
    got = {(r["k"], r["lsn"]) for r in t.read(where={"lsn": (lo, hi)}).collect()}
    assert got == want


def test_where_in_point_lookup_exact_and_pruned(spark, tmp_path):
    """Round-6 point-lookup path: read(where_in=) equals the brute-force
    isin truth, and files whose bounds exclude every probe value are never
    opened (corrupted-skippable-file proof)."""
    t = _make(spark, str(tmp_path / "in1"), stats_cols=["lsn"],
              sort_cols=["lsn"], target_file_rows=100)
    probe = [3, 471, 472, 998]
    want = {(f"k{v}", v) for v in probe}
    got = {(r["k"], r["lsn"]) for r in t.read(where_in={"lsn": probe}).collect()}
    assert got == want
    # corrupt every file no probe value can live in; the read must be
    # possible only via manifest in-list skipping
    skippable = [
        f for f in t.current().files
        if not any(f.stats["lsn"][0] <= v <= f.stats["lsn"][1] for v in probe)
    ]
    assert len(skippable) >= 3
    for f in skippable:
        with open(os.path.join(t.root, f.path), "wb") as fh:
            fh.write(b"corrupt")
    got = {(r["k"], r["lsn"]) for r in t.read(where_in={"lsn": probe}).collect()}
    assert got == want
    # columns AND together; values within a column OR; empty probe = empty
    assert t.read(where_in={"lsn": probe, "tag": ["t3"]}).count() == 1  # k3
    assert t.read(where_in={"lsn": []}).count() == 0


def test_where_in_key_probe_prunes_buckets(spark, tmp_path):
    """A probe covering the key columns computes candidate buckets by
    hashing the probe keys through the storage bucket expression — proven
    by corrupting EVERY file in every non-candidate bucket."""
    t = _make(spark, str(tmp_path / "in2"), stats_cols=["lsn"],
              target_file_rows=100)
    snap = t.current()
    keys = ["k10", "k20"]
    cand = t._probe_buckets(snap, {"k": keys})
    assert cand is not None and set(cand) <= set(snap.manifests)
    for f in snap.files:
        if f.bucket not in cand:
            with open(os.path.join(t.root, f.path), "wb") as fh:
                fh.write(b"corrupt")
    got = {(r["k"], r["lsn"]) for r in t.read(where_in={"k": keys}).collect()}
    assert got == {("k10", 10), ("k20", 20)}
    # non-key probes and oversized cross-products fall back gracefully
    assert t._probe_buckets(snap, {"lsn": [1]}) is None
    big = {"k": [f"k{i}" for i in range(5000)]}
    assert t._probe_buckets(snap, big) is None


def test_where_in_unencodable_values_stay_exact(spark, tmp_path):
    """Probe values the stats encoding cannot order (e.g. None) disable
    pruning for that column but never break exactness."""
    t = _make(spark, str(tmp_path / "in3"), stats_cols=["lsn"],
              sort_cols=["lsn"], target_file_rows=100)
    got = {r["lsn"] for r in t.read(where_in={"lsn": [5, None]}).collect()}
    assert got == {5}  # SQL isin never matches NULL; no file was skipped


def test_where_in_composes_with_range(spark, tmp_path):
    t = _make(spark, str(tmp_path / "in4"), stats_cols=["lsn"],
              sort_cols=["lsn"], target_file_rows=100)
    got = {r["lsn"] for r in
           t.read(where={"lsn": (100, 200)},
                  where_in={"tag": ["t3", "t7"]}).collect()}
    assert got == {v for v in range(100, 201) if v % 10 in (3, 7)}


def test_where_in_mistyped_probes_conform_not_crash(spark, tmp_path):
    """Round-6 review fix, hardened: probe values are conformed to the
    column's type BEFORE hashing/encoding/filtering.  Raw mistyped probes
    would either crash (ANSI casts the string COLUMN to bigint ->
    CAST_INVALID_INPUT on the first non-numeric row; or createDataFrame
    rejects a string probe against a long key inside _probe_buckets) or
    silently miss rows (the bucket hash of the stringified probe vs the
    numerically-coerced filter: '07' = 7)."""
    schema = spark.createDataFrame([], "k string, lsn long, tag string").schema
    t = LakeTable.create(spark, str(tmp_path / "in5"), schema=schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["lsn"],
                         target_file_rows=100)
    rows = [("7", 1, "a"), ("07", 2, "a"), ("k1", 3, "b"), ("8", 4, "b")]
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")

    # int probe on the string key: looked up as its string form — matches
    # exactly "7" (not "07"), and no ANSI cast error on "k1"
    got = [(r["k"], r["lsn"]) for r in t.read(where_in={"k": [7]}).collect()]
    assert got == [("7", 1)]
    # mixed valid+NULL probe on the KEY column keeps exactness
    got = {r["k"] for r in t.read(where_in={"k": ["k1", None]}).collect()}
    assert got == {"k1"}

    # string probes on a long column parse; unparseable values match
    # nothing instead of raising
    assert {r["lsn"] for r in t.read(where_in={"lsn": ["2", "4"]}).collect()} \
        == {2, 4}
    assert t.read(where_in={"lsn": ["nope"]}).count() == 0

    # the direct _probe_buckets belt: a genuinely unhashable raw probe
    # falls back to the unpruned path (None), never crashes the read
    long_key = LakeTable.create(
        spark, str(tmp_path / "in6"),
        schema=spark.createDataFrame([], "k long, v string").schema,
        key_cols=["k"], n_buckets=2,
    )
    long_key.append(
        spark.createDataFrame([(7, "x"), (8, "y")], "k long, v string"),
        commit_key="seed",
    )
    assert long_key._probe_buckets(long_key.current(), {"k": ["x"]}) is None
    assert [r["v"] for r in long_key.read(where_in={"k": ["7"]}).collect()] \
        == ["x"]

    # delete_where goes through the same conformance: mistyped key list
    # deletes exactly the conformed keys
    from ton_etl_spark.lake.maintenance import delete_where

    res = delete_where(t, where_in={"k": [8]})
    assert res["deleted_rows"] == 1
    assert sorted(r["k"] for r in t.read().collect()) == ["07", "7", "k1"]
    # all-unrepresentable probe: no-op, not a full-table rewrite
    res = delete_where(long_key, where_in={"k": ["nope"]})
    assert res == {"applied": False, "buckets": [], "deleted_rows": 0}


def test_where_range_bounds_conform_to_column_type(spark, tmp_path):
    """Range bounds go through the same type conformance as probes: string
    bounds parse for numeric/temporal columns (the only form a JSON
    surface can express), fractional bounds on integral columns round
    INWARD (exactly equivalent), mistyped bounds on string columns raise
    a clear ValueError instead of an ANSI CAST_INVALID_INPUT at runtime
    — and conformed bounds keep manifest skipping live (same-type
    comparisons against file stats)."""
    import pytest

    t = _make(spark, str(tmp_path / "rb1"), stats_cols=["lsn"],
              sort_cols=["lsn"], target_file_rows=100)

    want = {r["lsn"] for r in t.read(where={"lsn": (10, 20)}).collect()}
    # string bounds parse to the long column's type
    got = {r["lsn"] for r in t.read(where={"lsn": ("10", "20")}).collect()}
    assert got == want
    # fractional bounds round inward: (9.5, 20.5) == [10, 20]
    got = {r["lsn"] for r in t.read(where={"lsn": (9.5, 20.5)}).collect()}
    assert got == want
    # a bound the column type cannot represent fails loudly at plan time
    with pytest.raises(ValueError, match="not representable"):
        t.read(where={"lsn": ("nope", None)})
    # int bound on a string column: refuse (numeric vs lexicographic
    # intent is ambiguous), never an ANSI runtime cast of the column
    with pytest.raises(ValueError, match="not representable"):
        t.read(where={"k": (7, None)}).collect()

    # delete_where shares the contract
    from ton_etl_spark.lake.maintenance import delete_where

    with pytest.raises(ValueError, match="not representable"):
        delete_where(t, {"lsn": ("x", None)})
    res = delete_where(t, {"lsn": ("990", None)})
    assert res["deleted_rows"] == 10  # lsn 990..999
    assert t.read().count() == 990


def test_where_in_decimal_and_epoch_probes_conform(spark, tmp_path):
    """Review-fix lock: a fractional Decimal probe on an integral column
    matches NOTHING (int() would truncate 7.5 -> 7 and hit the wrong
    key); an epoch-int probe on a timestamp column matches nothing
    instead of raising an ANSI analysis error (unit guessing would be a
    silent wrong match); an int bound on a timestamp RANGE raises."""
    import datetime as dt
    from decimal import Decimal

    import pytest

    schema = spark.createDataFrame([], "k long, ts timestamp").schema
    t = LakeTable.create(spark, str(tmp_path / "cf1"), schema=schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["ts"])
    base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    t.append(spark.createDataFrame(
        [(i, base + dt.timedelta(hours=i)) for i in range(20)], schema),
        commit_key="seed")

    assert t.read(where_in={"k": [Decimal("7.5")]}).count() == 0  # not k=7!
    assert t.read(where_in={"k": [Decimal("7.00")]}).count() == 1  # integral ok
    assert t.read(where_in={"ts": [int(base.timestamp())]}).count() == 0
    got = t.read(where_in={"ts": [base + dt.timedelta(hours=3)]}).count()
    assert got == 1
    # ISO string probes conform on temporal columns
    iso = (base + dt.timedelta(hours=4)).isoformat()
    assert t.read(where_in={"ts": [iso]}).count() == 1
    with pytest.raises(ValueError, match="not representable"):
        t.read(where={"ts": (int(base.timestamp()), None)})


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_PROBE_VALUES = st.one_of(
    st.integers(min_value=-5, max_value=30),
    st.floats(min_value=-5, max_value=30, allow_nan=False),
    st.decimals(min_value=-5, max_value=30, allow_nan=False, places=1),
    st.text(alphabet="k0123456789.", min_size=0, max_size=4),
    st.none(),
    st.booleans(),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(probes=st.lists(_PROBE_VALUES, min_size=1, max_size=6),
       target=st.sampled_from(["k", "lsn", "tag"]))
def test_where_in_conformance_property(spark, shared_probe_table, probes, target):
    """Property: for ANY mix of probe value types against ANY column
    (string key / long / string tag), read(where_in=) must return exactly
    the rows whose column value equals a conformed probe — no crash (ANSI
    column casts, createDataFrame verification), no wrong-key match
    (coercion/truncation), and bucket/stats pruning never changes the
    answer."""
    import datetime as _dt
    from decimal import Decimal

    t, rows = shared_probe_table
    schema_types = {"k": str, "lsn": int, "tag": str}
    py_t = schema_types[target]

    # reference semantics: the documented conformance contract in Python
    def conform(v):
        if v is None or isinstance(v, bool):
            return None
        try:
            if py_t is int:
                if isinstance(v, float) and not v.is_integer():
                    return None
                if isinstance(v, Decimal) and v % 1 != 0:
                    return None
                return int(v)
            return v if isinstance(v, str) else str(v)
        except (ValueError, TypeError):
            return None

    want = sorted(
        r for r in rows
        if r[{"k": 0, "lsn": 1, "tag": 2}[target]]
        in {c for c in map(conform, probes) if c is not None}
    )
    got = sorted(
        (r["k"], r["lsn"], r["tag"])
        for r in t.read(where_in={target: list(probes)}).collect()
    )
    assert got == want, (probes, target, got[:5], want[:5])


@pytest.fixture(scope="module")
def shared_probe_table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("probeprop") / "t")
    schema = spark.createDataFrame([], "k string, lsn long, tag string").schema
    t = LakeTable.create(spark, root, schema=schema, key_cols=["k"],
                         n_buckets=2, stats_cols=["lsn"], sort_cols=["lsn"],
                         target_file_rows=10)
    rows = [(f"k{i}", i, f"{i}") for i in range(20)]
    rows += [("7", 77, "7.5"), ("07", 78, "x"), ("", 79, "")]
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")
    return t, rows
