"""Z-order clustering rewrite: multi-column file skipping.

sort_cols clusters one dimension; rewrite_zorder interleaves quantile-bin
bits of several columns so per-file [min, max] bounds get tight on all of
them at once (Iceberg/Delta rewrite_data_files zorder strategy role).
"""

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.lake.maintenance import (
    rewrite_zorder,
    zorder_boundaries,
    zorder_value,
)
from ton_etl_spark.lake.table import LakeTable


def _ref_morton(bins, bits):
    z = 0
    for d, b in enumerate(bins):
        for i in range(bits):
            z |= ((b >> i) & 1) << (i * len(bins) + d)
    return z


def _make(spark, root, n=2000, target_file_rows=100):
    # a and b are independent pseudo-uniform dims; sorting by one leaves
    # the other's per-file bounds spanning the whole domain
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.xxhash64(F.col("id"), F.lit(1)) % 1000).alias("a"),
        (F.xxhash64(F.col("id"), F.lit(2)) % 1000).alias("b"),
    )
    t = LakeTable.create(
        spark, root, schema=df.schema, key_cols=["k"], n_buckets=2,
        stats_cols=["a", "b"], sort_cols=["a"], target_file_rows=target_file_rows,
    )
    t.append(df, commit_key="seed")
    return t


def _skippable_frac(t, col, lo, hi):
    files = t.current().files
    sk = [
        f for f in files
        if f.stats and col in f.stats and (f.stats[col][1] < lo or f.stats[col][0] > hi)
    ]
    return len(sk) / len(files)


def test_zorder_value_matches_python_morton(spark):
    df = spark.createDataFrame([(3, 5)], "a long, b long")
    # boundaries 1..7 => bin = value for small ints (count of bounds <= v)
    bounds = {"a": [float(x) for x in range(1, 8)],
              "b": [float(x) for x in range(1, 8)]}
    z = df.select(zorder_value(df, bounds, bits=3).alias("z")).collect()[0]["z"]
    assert z == _ref_morton([3, 5], 3)


def test_zorder_null_and_constant_dims(spark):
    df = spark.createDataFrame([(None, 7), (2, 7)], "a int, b int")
    bounds = zorder_boundaries(df, ["a", "b"], bits=2)
    # constant column dedupes to (at most) one boundary — a uniform bin
    # shift that carries no interleave information, by construction
    assert len(bounds["b"]) <= 1
    vals = df.select(zorder_value(df, bounds, bits=2).alias("z")).collect()
    assert all(v["z"] is not None for v in vals)  # NULL dim -> bin 0, not NULL z


def test_zorder_rejects_strings(spark):
    df = spark.createDataFrame([("x", 1)], "s string, a int")
    with pytest.raises(TypeError, match="z-order supports"):
        zorder_boundaries(df, ["s"], bits=2)


def test_zorder_improves_skipping_on_both_dims(spark, tmp_path):
    t = _make(spark, str(tmp_path / "z1"), n=4000, target_file_rows=50)
    before = t.read().orderBy("k").collect()
    # edge probes: a Morton range decomposes the grid into dyadic blocks,
    # so a probe straddling the domain MIDLINE intersects both halves of
    # every file — the known z-order weak spot; selective probes away from
    # the top-level split are the representative case
    lo_a, hi_a = 702, 999  # xxhash64 % 1000 spans [-999, 999]; top ~15%
    lo_b, hi_b = 702, 999
    # baseline: sort_cols=['a'] => a skips well, b barely at all
    assert _skippable_frac(t, "a", lo_a, hi_a) > 0.6
    assert _skippable_frac(t, "b", lo_b, hi_b) < 0.2

    r = rewrite_zorder(t, ["a", "b"], commit_key="z1")
    assert r["applied"] and r["bins"]["a"] > 100
    # both dims now skip a solid fraction of files
    assert _skippable_frac(t, "a", lo_a, hi_a) > 0.5
    assert _skippable_frac(t, "b", lo_b, hi_b) > 0.5

    # rewrite is a pure re-layout: contents identical
    after = t.read().orderBy("k").collect()
    assert after == before

    # where-reads stay exact on both dims
    want = {r["k"] for r in before if lo_b <= r["b"] <= hi_b}
    got = {r["k"] for r in t.read(where={"b": (lo_b, hi_b)}).collect()}
    assert got == want

    # idempotent on commit_key
    assert rewrite_zorder(t, ["a", "b"], commit_key="z1")["applied"] is False


def test_zorder_skipped_files_never_opened(spark, tmp_path):
    """Corrupt every file whose b-bounds exclude the probe: the where-read
    must still succeed — proof the pruning happens at manifest level on a
    column that was never a declared sort column."""
    t = _make(spark, str(tmp_path / "z2"), n=4000, target_file_rows=50)
    assert rewrite_zorder(t, ["a", "b"], commit_key="z")["applied"]
    lo, hi = 702, 999
    files = t.current().files
    skippable = [f for f in files
                 if f.stats["b"][1] < lo or f.stats["b"][0] > hi]
    assert len(skippable) >= 3
    for f in skippable:
        with open(os.path.join(t.root, f.path), "wb") as fh:
            fh.write(b"corrupt")
    got = t.read(where={"b": (lo, hi)}).count()
    full = 4000
    assert 0 < got < full


def test_rolling_maintenance_zorder_group(spark, tmp_path):
    """The ingest-loop policy: a maintenance epoch z-orders ONE rolling
    bucket group; untouched groups keep their manifests, and the touched
    group's files gain tight bounds on both dims."""
    from ton_etl_spark.lake.maintenance import rolling_maintenance

    t = _make(spark, str(tmp_path / "z3"), n=4000, target_file_rows=50)
    before = {b: m for b, m in t.current().manifests.items()}
    zorder = partial(rewrite_zorder, cols=["a", "b"])
    assert rolling_maintenance(t, epoch=6, every=8, groups=2,
                               rewrite=zorder) is None  # off-epoch
    r = rolling_maintenance(t, epoch=7, every=8, groups=2, rewrite=zorder)
    assert r["applied"] and set(r["buckets"]) == {0}  # group 0 of 2
    snap = t.current()
    assert snap.manifests[1] == before[1]  # other group untouched
    assert snap.manifests[0] != before[0]
    g0_files = [f for f in snap.files if f.bucket == 0]
    assert all("b" in f.stats for f in g0_files)
    # replay idempotency: the same epoch retried is a no-op
    assert rolling_maintenance(t, epoch=7, every=8, groups=2,
                               rewrite=zorder)["applied"] is False
    assert t.read().count() == 4000


def test_zorder_rejects_interleave_overflow(spark):
    from ton_etl_spark.lake.maintenance import zorder_value

    df = spark.createDataFrame([(1,) * 8], ", ".join(f"c{i} long" for i in range(8)))
    bounds = {f"c{i}": [0.5] for i in range(8)}
    with pytest.raises(ValueError, match="<= 63"):
        zorder_value(df, bounds, bits=8)  # 64 z bits: sign-bit corruption
    z = df.select(zorder_value(df, bounds, bits=7).alias("z")).collect()[0]["z"]
    assert z is not None  # 56 bits fits


def test_zorder_temporal_dims(spark, tmp_path):
    """Timestamps go through the epoch functions (ANSI mode rejects
    temporal->numeric casts); the z-dim still bins and clusters."""
    from datetime import datetime, timezone

    rows = [(i, datetime(2026, 1, 1 + i % 20, tzinfo=timezone.utc), i % 7)
            for i in range(400)]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v long")
    t = LakeTable.create(spark, str(tmp_path / "zt"), schema=df.schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["ts", "v"],
                         target_file_rows=50)
    t.append(df, commit_key="seed")
    r = rewrite_zorder(t, ["ts", "v"], commit_key="z")
    assert r["applied"] and r["bins"]["ts"] > 10
    assert t.read().count() == 400
    # bounds on the timestamp dim got harvested and a probe stays exact
    hits = t.read(where={"ts": (datetime(2026, 1, 5, tzinfo=timezone.utc),
                                datetime(2026, 1, 6, tzinfo=timezone.utc))})
    assert hits.count() == sum(1 for _, d, _v in rows if 5 <= d.day <= 6)


def test_clustering_overlap_metric(spark, tmp_path):
    """The describe-level re-cluster signal: sorted dim ~0 overlap, random
    dim ~1; after z-order BOTH dims drop well below the random baseline."""
    from ton_etl_spark.lake.maintenance import clustering_overlap

    t = _make(spark, str(tmp_path / "zc"), n=4000, target_file_rows=50)
    m = clustering_overlap(t)
    # sort_cols=['a'] => near-disjoint ranges (adjacent files may share a
    # boundary VALUE when duplicates split across a file cut)
    assert m["a"] < 0.1
    assert m["b"] > 0.9           # unclustered dim: everything overlaps
    rewrite_zorder(t, ["a", "b"], commit_key="z")
    m2 = clustering_overlap(t)
    assert m2["a"] < 0.5 and m2["b"] < 0.5
    # CLI surface
    import io, contextlib, json as _json
    from ton_etl_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["describe", "--table", t.root, "--clustering"]) == 0
    d = _json.loads(buf.getvalue().strip())
    assert d["clustering"] == m2


def test_rolling_maintenance_zorder_threshold_autotrigger(spark, tmp_path):
    """Round-6: the clustering metric DRIVES the rewrite.  A degraded
    group re-clusters; once clustered, subsequent cycles do ZERO rewrites
    (manifests untouched); fresh unclustered ingest re-arms the trigger."""
    from ton_etl_spark.lake.maintenance import clustering_overlap, rolling_maintenance

    t = _make(spark, str(tmp_path / "zat"), n=4000, target_file_rows=50)

    kw = dict(every=8, groups=2,
              rewrite=partial(rewrite_zorder, cols=["a", "b"], if_overlap=0.6))
    # seed state: sorted on a, random on b => b overlap ~1 => both groups fire
    r0 = rolling_maintenance(t, epoch=7, **kw)    # group 0
    r1 = rolling_maintenance(t, epoch=15, **kw)   # group 1
    assert r0["applied"] and r1["applied"]
    m = clustering_overlap(t)
    assert m["a"] < 0.6 and m["b"] < 0.6

    # well-clustered: the next full cycle does zero rewrites
    before = dict(t.current().manifests)
    s0 = rolling_maintenance(t, epoch=23, **kw)
    s1 = rolling_maintenance(t, epoch=31, **kw)
    assert s0["skipped"] == "well-clustered" and s0["overlap"] <= 0.6
    assert s1["skipped"] == "well-clustered"
    assert dict(t.current().manifests) == before  # no commit at all

    # ingest degrades clustering: new files span both domains
    df = spark.range(4000, 8000).select(
        F.col("id").alias("k"),
        (F.xxhash64(F.col("id"), F.lit(1)) % 1000).alias("a"),
        (F.xxhash64(F.col("id"), F.lit(2)) % 1000).alias("b"),
    )
    t.append(df, commit_key="more")
    assert max(v for v in clustering_overlap(t).values() if v is not None) > 0.6
    r2 = rolling_maintenance(t, epoch=39, **kw)   # group 0 re-arms
    r3 = rolling_maintenance(t, epoch=47, **kw)   # group 1 re-arms
    assert r2["applied"] and r3["applied"]
    m3 = clustering_overlap(t)
    assert m3["a"] < 0.6 and m3["b"] < 0.6
    assert t.read().count() == 8000


def test_zorder_gate_fires_without_declared_stats(spark, tmp_path):
    """Round-6 review fix: zorder_cols that were never declared stats_cols
    have no manifest bounds, so the overlap metric is blind to them — the
    gate must read missing coverage as 'needs clustering' (bootstrap),
    not 'well-clustered forever'.  The bootstrap rewrite then PROMOTES
    the cols into stats_cols, so fresh ingest keeps recording (wide)
    bounds and post-rewrite erosion re-arms the gate through the honest
    overlap signal with coverage intact."""
    from ton_etl_spark.lake.maintenance import (
        clustering_overlap,
        rolling_maintenance,
        zorder_needed,
    )

    def _rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.xxhash64(F.col("id"), F.lit(1)) % 1000).alias("a"),
            (F.xxhash64(F.col("id"), F.lit(2)) % 1000).alias("b"),
        )

    df = _rows(0, 4000)
    t = LakeTable.create(
        spark, str(tmp_path / "zns"), schema=df.schema, key_cols=["k"],
        n_buckets=2, stats_cols=["k"], target_file_rows=50,
    )
    t.append(df, commit_key="seed")
    assert "a" not in clustering_overlap(t)     # metric blind to a/b

    kw = dict(every=8, groups=1,
              rewrite=partial(rewrite_zorder, cols=["a", "b"], if_overlap=0.6))
    r0 = rolling_maintenance(t, epoch=7, **kw)  # bootstrap fires
    assert r0["applied"]

    # rewrite harvested a/b bounds: fully covered + clustered => quiet
    needed, worst, reason = zorder_needed(t, ["a", "b"], 0.6)
    assert needed is False and reason == "well-clustered" and worst <= 0.6
    before = dict(t.current().manifests)
    s = rolling_maintenance(t, epoch=15, **kw)
    assert s["skipped"] == "well-clustered"
    assert dict(t.current().manifests) == before

    # the bootstrap promoted a/b into stats_cols: fresh ingest now records
    # their (wide, unclustered) bounds, so coverage stays complete and the
    # erosion surfaces through the overlap metric itself
    t.append(_rows(4000, 8000), commit_key="more")
    assert set(LakeTable._prop_cols(t.current().properties, "stats_cols")) >= {"a", "b"}
    new_files = [f for f in t.current().files if f.rows and f.stats]
    assert all("a" in f.stats and "b" in f.stats for f in new_files)
    m = clustering_overlap(t)
    assert max(m[c] for c in ("a", "b")) > 0.6  # honest erosion signal
    r1 = rolling_maintenance(t, epoch=23, **kw)
    assert r1["applied"]
    assert zorder_needed(t, ["a", "b"], 0.6)[0] is False
    assert t.read().count() == 8000


def test_zorder_gate_degenerate_columns_do_not_fire_forever(spark, tmp_path):
    """Review-fix lock: the blindness rule must not degenerate into an
    always-on rewrite.  (a) A column whose type can never carry manifest
    bounds (decimal — _stats_encode returns None) is excluded from the
    blind check; (b) a stray bounds-less file (all-NULL column values)
    does not re-trigger while other files carry bounds — overlap governs;
    (c) a typo'd column fails loudly instead of silently never firing."""
    from decimal import Decimal

    from ton_etl_spark.lake.maintenance import zorder_needed

    schema = spark.createDataFrame([], "k long, d decimal(10,2), v long").schema
    t = LakeTable.create(spark, str(tmp_path / "zdg"), schema=schema,
                         key_cols=["k"], n_buckets=2, target_file_rows=50)
    # batch 1: v all-NULL => its files record NO v bounds
    t.append(spark.range(200).selectExpr(
        "id AS k", "CAST(id AS decimal(10,2)) AS d", "CAST(NULL AS long) AS v"),
        commit_key="b1")
    # (a) decimal-only gate: zero coverage but unencodable type => skip
    needed, worst, reason = zorder_needed(t, ["d"], 0.5)
    assert needed is False and reason == "well-clustered" and worst is None

    # (c) unknown column: loud
    with pytest.raises(ValueError, match="not in schema"):
        zorder_needed(t, ["nope"], 0.5)

    # v IS encodable and fully blind here => bootstrap fires once
    assert zorder_needed(t, ["v"], 0.5)[0] is True
    r = rewrite_zorder(t, ["v"], commit_key="z1")
    assert r["applied"]
    # the all-NULL rows still record no v bounds on their files...
    assert all(not f.stats or "v" not in f.stats for f in t.current().files)
    # (d) r6-advice lock: the rewrite PROMOTED v into stats_cols, which
    # exempts it from the blind rule — an all-NULL scope stays at zero
    # coverage forever, and without the exemption the gate would schedule
    # an unconditional full-group rewrite every maintenance cycle
    assert "v" in t.current().properties.get("stats_cols", "")
    needed, worst, reason = zorder_needed(t, ["v"], 0.5)
    assert needed is False and reason == "well-clustered", (needed, worst, reason)
    # ...but batch 2 brings covered files; partial coverage must not
    # re-fire the blind rule — only measured overlap can
    t.append(spark.range(200, 400).selectExpr(
        "id AS k", "CAST(id AS decimal(10,2)) AS d", "CAST(id % 7 AS long) AS v"),
        commit_key="b2")
    covered = [f for f in t.current().files if f.stats and "v" in f.stats]
    blind_files = [f for f in t.current().files
                   if not f.stats or "v" not in f.stats]
    assert covered  # some files carry v bounds
    needed, worst, reason = zorder_needed(t, ["v"], 1.1)  # threshold no one beats
    assert needed is False, (worst, reason, len(blind_files))


def test_clustering_overlap_pair_count_matches_bruteforce():
    """Property: the O(n log n) sorted-endpoint pair count equals the
    brute-force all-pairs overlap count across random bucketed range
    sets (r6-advice fix: the old active-list sweep was O(n x
    concurrently-overlapping) — quadratic exactly on the badly
    clustered tables the gauge exists to flag)."""
    import random
    from types import SimpleNamespace

    from ton_etl_spark.lake.maintenance import clustering_overlap

    rnd = random.Random(13)
    for trial in range(40):
        files = []
        for i in range(rnd.randint(0, 30)):
            lo = rnd.randint(-20, 20)
            hi = lo + rnd.choice([0, 0, 1, 2, 5, 40])  # duplicates + spans
            files.append(SimpleNamespace(
                bucket=rnd.randint(0, 2), rows=1,
                stats={"c": [lo, hi]} if rnd.random() > 0.1 else None,
            ))
        got = clustering_overlap(None, files=files, cols=["c"])
        # brute force over same-bucket unordered pairs
        by_b: dict = {}
        for f in files:
            if f.stats and "c" in f.stats:
                by_b.setdefault(f.bucket, []).append(f.stats["c"])
        ov = tot = 0
        for rs in by_b.values():
            for i in range(len(rs)):
                for j in range(i + 1, len(rs)):
                    tot += 1
                    if rs[i][0] <= rs[j][1] and rs[j][0] <= rs[i][1]:
                        ov += 1
        want = round(ov / tot, 4) if tot else None
        assert got.get("c", None) == want, (trial, got, want)
    # mixed-type bounds (schema evolution) still report null, not raise
    mixed = [
        SimpleNamespace(bucket=0, rows=1, stats={"c": [1, 5]}),
        SimpleNamespace(bucket=0, rows=1, stats={"c": ["a", "z"]}),
    ]
    assert clustering_overlap(None, files=mixed, cols=["c"]) == {"c": None}
