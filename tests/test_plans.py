"""Physical-plan regression tests: the plans we designed for must stay the
plans Catalyst picks (SURVEY.md §4).  A silent regression here (lost
pushdown, extra exchange, broadcast→SMJ flip) is a scale bug even when
results stay correct."""

import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.readwriter import DataFrameWriter

from ton_etl_spark.cdc.generator import generate_cdc_log
from ton_etl_spark.functions.tokens import with_token_validation
from ton_etl_spark.lake.table import LakeTable, _conform
from ton_etl_spark.cdc.apply import make_sequences_table
from ton_etl_spark.plans.queries import QUERIES, load_table


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_scan_line(df) -> str:
    # FileSourceScan details (PushedFilters/ReadSchema) live in the full
    # formatted explain
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_merge_is_single_exchange(spark, tmp_path, monkeypatch):
    """The frame ``merge_lww`` commits must shuffle the payload exactly
    once, by the storage-bucket column, into the session's
    ``shuffle.partitions`` (lake/merge.py design): a 16-bucket table merged
    from a session with 8 shuffle partitions plans one
    ``hashpartitioning(__bucket, 8), REPARTITION_BY_COL``, which AQE may
    coalesce (a ``repartition(n_buckets, *keys)`` would plan
    ``REPARTITION_BY_NUM``, which it never coalesces), and still writes one
    data file per touched bucket.  The ranked frame reaches the writer in
    its write schema (data columns, then ``__change``, then ``__bucket``):
    no per-column ``CASE WHEN (__change = delete)`` image, and the frame
    the writer writes hashes the key once."""
    from ton_etl_spark.lake.merge import merge_lww

    table = make_sequences_table(spark, str(tmp_path / "t"), n_buckets=16)
    frames, written = [], []
    real = LakeTable.overwrite_buckets
    real_parquet = DataFrameWriter.parquet

    def spy(self, df, *args, **kwargs):
        frames.append(df)
        return real(self, df, *args, **kwargs)

    def spy_parquet(self, *args, **kwargs):
        written.append(self._df)
        return real_parquet(self, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "overwrite_buckets", spy)
    monkeypatch.setattr(DataFrameWriter, "parquet", spy_parquet)
    batch = with_token_validation(generate_cdc_log(spark, 2_000, seed=13))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        res = merge_lww(table, batch, commit_key="epoch=0")
        # planned lazily: read them under the merge's session settings
        plan = _executed_plan(frames[0])
        written_plan = _executed_plan(written[0])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert res["applied"]
    assert len(frames) == 1 and len(written) == 1
    for p in (plan, written_plan):
        exchanges = re.findall(r"Exchange (\w+.*)", p)
        assert len(exchanges) == 1, p
        assert re.match(r"hashpartitioning\(__bucket#\d+, 8\), REPARTITION_BY_COL",
                        exchanges[0]), p
    assert len(re.findall(r"\bhash\(", written_plan)) == 1, written_plan
    assert frames[0].columns[-2:] == ["__change", "__bucket"]
    analyzed = frames[0]._jdf.queryExecution().analyzed().toString()
    assert not re.search(r"CASE WHEN \(__change#\d+ = delete\)", analyzed), analyzed
    per_bucket: dict[int, int] = {}
    for f in table.current().files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert sorted(per_bucket) == res["buckets"] and len(per_bucket) > 8
    assert set(per_bucket.values()) == {1}, per_bucket


def test_conform_returns_a_plan_in_its_schema_unchanged(spark):
    """``_conform`` adds no projection to a plan whose column names and
    types already equal the schema's; any difference is projected."""
    df = spark.range(3).select(F.col("id").alias("k"), F.array(F.col("id")).alias("a"))
    assert _conform(df, df.schema) is df
    swapped = T.StructType(df.schema.fields[::-1])
    assert _conform(df, swapped).columns == ["a", "k"]
    wider = T.StructType([T.StructField("k", T.LongType()), T.StructField("x", T.IntegerType())])
    out = _conform(df, wider)
    assert out is not df and out.columns == ["k", "x"]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """pricing_summary's shipdate filter must be pushed to the parquet scan
    and the scan must prune to the referenced columns only."""
    df = QUERIES["pricing_summary"](spark, sf_dir)
    txt = _optimized_scan_line(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in txt, txt
    m = re.search(r"ReadSchema: struct<([^>]*)>", txt)
    assert m, txt
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    }, cols


def test_dim_join_broadcasts(spark, sf_dir):
    """top_parts_by_revenue joins the small part dim — must be a broadcast
    hash join, not a shuffle join."""
    df = QUERIES["top_parts_by_revenue"](spark, sf_dir)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_bucket_pruned_read_lists_only_selected_buckets(spark, tmp_path):
    """LakeTable.read(buckets=…) must open only the selected buckets' files
    (file-level pruning happens at the driver from snapshot metadata)."""
    schema = spark.createDataFrame([], "k string, v long").schema
    t = LakeTable.create(spark, str(tmp_path / "t2"), schema=schema, key_cols=["k"], n_buckets=8)
    rows = [(f"k{i}", i) for i in range(64)]
    t.append(spark.createDataFrame(rows, schema), commit_key="a0")
    pruned = t.read(buckets=[0, 1])
    files = re.findall(r"__bucket=(\d+)", _executed_plan(pruned.where(F.col("v") >= 0)))
    # executedPlan's file listing isn't printed; assert via input_files
    files = {os.path.basename(os.path.dirname(p)) for p in pruned.inputFiles()}
    assert files.issubset({"__bucket=0", "__bucket=1"}), files
    assert pruned.count() < 64


def test_ivf_indexed_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """A probe against a materialized IVF index must (a) filter on the
    STORED cell column as a parquet partition filter, (b) physically read
    only the probed cells' files, and (c) return exactly what the ad-hoc
    (recompute) path returns."""
    from ton_etl_spark.operators.similarity import (
        fixed_centroids,
        ivf_ann_topk,
        ivf_probe_cells,
        read_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    cents = fixed_centroids(8, len(qv), seed=5, scale=0.125)
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, cents)
    idx, meta = read_ivf_index(spark, path)
    assert meta["centroids"] == cents

    probe = ivf_probe_cells(qv, meta["centroids"], nprobe=2)
    df = ivf_ann_topk(idx, qv, k=5, nprobe=2, index_meta=meta)
    txt = _optimized_scan_line(df)
    assert "PartitionFilters" in txt and "ivf_cell" in txt, txt

    adhoc = ivf_ann_topk(emb, qv, k=5, nprobe=2, centroids=cents)
    assert df.collect() == adhoc.collect()

    # behavioral proof of pruning: corrupt every NON-probed cell's data
    # files; the probe must still execute (it never opens them) while a
    # full-table read fails on the garbage.
    corrupted = 0
    for d in os.listdir(path):
        if d.startswith("ivf_cell=") and int(d.split("=")[1]) not in probe:
            for f in os.listdir(os.path.join(path, d)):
                if f.endswith(".parquet"):
                    with open(os.path.join(path, d, f), "wb") as fh:
                        fh.write(b"not parquet")
                    corrupted += 1
    assert corrupted > 0
    assert len(df.collect()) == 5
    with pytest.raises(Exception):
        spark.read.parquet(path).where(F.col("vec_id") >= 0).count()


def test_indexed_ann_api_misuse_fails_loudly(spark):
    """Indexed probes must refuse to run without their index: silent
    fallback to a full-corpus recompute would defeat the point at scale."""
    from ton_etl_spark.operators.similarity import ivf_ann_topk, lsh_ann_topk

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="centroids"):
        ivf_ann_topk(emb, [1.0, 0.0], cell_col="ivf_cell")
    with pytest.raises(ValueError, match="build the index"):
        ivf_ann_topk(emb, [1.0, 0.0], centroids=[[0.0, 0.0]], cell_col="ivf_cell")
    with pytest.raises(ValueError, match="both"):
        lsh_ann_topk(emb, [1.0, 0.0], tbl_col="lsh_tbl")
    with pytest.raises(ValueError, match="build the index"):
        lsh_ann_topk(emb, [1.0, 0.0], tbl_col="lsh_tbl", bucket_col="lsh_bucket")


def test_lsh_indexed_probe_is_partition_pruned(spark, sf_dir, tmp_path):
    """Same contract for the multi-table LSH index: probe filters on the
    stored (table, bucket) partition columns and matches the ad-hoc path."""
    from ton_etl_spark.operators.similarity import (
        lsh_ann_topk,
        read_lsh_index,
        write_lsh_index,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "lsh")
    write_lsh_index(emb, path, dim=len(qv), n_planes=4, seed=42, n_tables=2)
    idx, meta = read_lsh_index(spark, path)

    df = lsh_ann_topk(idx, qv, k=5, multiprobe=1, index_meta=meta)
    txt = _optimized_scan_line(df)
    assert "PartitionFilters" in txt, txt
    assert "lsh_bucket" in txt and "lsh_tbl" in txt, txt

    adhoc = lsh_ann_topk(emb, qv, k=5, n_planes=4, seed=42, multiprobe=1, n_tables=2)
    assert df.collect() == adhoc.collect()


def test_merge_does_not_mutate_session_conf(spark, tmp_path):
    """merge_lww plans in its table's session without setting anything
    on it: the caller's shuffle.partitions must be untouched and the bucket
    layout (one file per touched bucket) preserved."""
    from ton_etl_spark.lake.merge import merge_lww

    table = make_sequences_table(spark, str(tmp_path / "conf"), n_buckets=16)
    batch = generate_cdc_log(spark, 5_000, seed=23)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    res = merge_lww(table, batch, commit_key="epoch=0")
    assert res["applied"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    per_bucket = {}
    for f in table.current().files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert per_bucket and all(n == 1 for n in per_bucket.values())


def test_merge_writes_with_the_session_parquet_codec(spark, tmp_path):
    """A runtime ``spark.sql.parquet.compression.codec`` reaches the
    merge's data and change-feed files, as it reaches an append's (the
    merge runs in its table's session, not in a child session whose conf
    would come from the SparkContext), and the files the driver writer
    writes: the lineage rows and the mart fold.  A codec pyarrow cannot
    write is refused by the driver writer."""
    import pyarrow.parquet as pq

    from ton_etl_spark.cdc.apply import apply_cdc_batch, make_lineage_table
    from ton_etl_spark.lake.incremental import make_agg_mart, refresh_agg_mart

    table = make_sequences_table(spark, str(tmp_path / "codec"), n_buckets=4)
    lineage = make_lineage_table(spark, str(tmp_path / "lin"))
    mart = make_agg_mart(spark, str(tmp_path / "mart"), group_cols=["source"])
    log = generate_cdc_log(spark, 1_000, seed=37)
    prev = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "gzip")
    try:
        assert apply_cdc_batch(table, log.where("lsn % 2 = 0"), epoch=0, lineage=lineage)["applied"]
        v0 = table.current_version()
        assert refresh_agg_mart(mart, table, None)["applied"]
        assert apply_cdc_batch(table, log.where("lsn % 2 = 1"), epoch=1, lineage=lineage)["applied"]
        assert refresh_agg_mart(mart, table, v0)["applied"]
        spark.conf.set("spark.sql.parquet.compression.codec", "lzo")
        with pytest.raises(ValueError, match="lzo"):
            lineage.append(lineage.read().toArrow(), commit_key="lzo")
    finally:
        spark.conf.set("spark.sql.parquet.compression.codec", prev)
    for t in (table, lineage, mart):
        snap = t.current()
        paths = [f.path for f in snap.files] + [c.path for c in snap.feed]
        assert t is lineage or any("__change=" in p for p in paths), (t.root, paths)
        codecs = set()
        for rel in paths:
            md = pq.ParquetFile(os.path.join(t.root, rel)).metadata
            codecs |= {md.row_group(g).column(j).compression
                       for g in range(md.num_row_groups) for j in range(md.num_columns)}
        assert codecs == {"GZIP"}, (t.root, codecs)


def test_where_read_residual_filter_is_pushed_down(spark, tmp_path):
    """read(where=...) must deliver its residual range predicate to the
    parquet scan as pushed filters — manifest skipping prunes FILES, and
    the pushed filter prunes ROW GROUPS inside the survivors; losing
    either layer silently costs I/O at scale."""
    from ton_etl_spark.lake.table import LakeTable

    schema = spark.createDataFrame([], "k string, lsn long").schema
    t = LakeTable.create(spark, str(tmp_path / "pd"), schema=schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["lsn"],
                         sort_cols=["lsn"], target_file_rows=100)
    rows = [(f"k{i}", i) for i in range(500)]
    t.append(spark.createDataFrame(rows, schema), commit_key="seed")
    txt = _optimized_scan_line(t.read(where={"lsn": (100, 200)}))
    assert "GreaterThanOrEqual(lsn,100)" in txt, txt
    assert "LessThanOrEqual(lsn,200)" in txt, txt


def test_ntz_residual_casts_no_column_and_is_pushed_down(spark, tmp_path):
    """An NTZ range and an NTZ ``where_in`` compare the column, uncast,
    with ``timestamp_ntz`` literals (the bounds' session-zone wall
    clocks), so both reach the Parquet scan as pushed filters; comparing
    with a ``timestamp`` literal would cast the column and push only
    ``IsNotNull``."""
    import datetime as dt

    from ton_etl_spark.lake.table import LakeTable

    schema = spark.createDataFrame([], "k long, ts timestamp_ntz").schema
    t = LakeTable.create(spark, str(tmp_path / "ntz"), schema=schema,
                         key_cols=["k"], n_buckets=2, stats_cols=["ts"])
    t.append(spark.createDataFrame(
        [(i, dt.datetime(2026, 11, 1) + dt.timedelta(minutes=15 * i)) for i in range(16)],
        schema), commit_key="seed")
    utc = dt.timezone.utc
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        rng = t.read(where={"ts": (dt.datetime(2026, 11, 1, 6, 30, tzinfo=utc),
                                   dt.datetime(2026, 11, 1, 7, 15, tzinfo=utc))})
        probe = t.read(where_in={"ts": [dt.datetime(2026, 11, 1, 6, 30, tzinfo=utc),
                                        dt.datetime(2026, 11, 1, 8, tzinfo=utc)]})
        txts = [_optimized_scan_line(df) for df in (rng, probe)]
        assert sorted(r["k"] for r in rng.collect()) == [6, 7, 8, 9]
        assert sorted(r["k"] for r in probe.collect()) == [6, 12]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    for txt in txts:
        assert "cast(ts" not in txt.lower(), txt
    assert "GreaterThanOrEqual(ts,2026-11-01T01:30)" in txts[0], txts[0]
    assert "LessThanOrEqual(ts,2026-11-01T02:15)" in txts[0], txts[0]
    assert "In(ts, [2026-11-01T01:30,2026-11-01T03:00]" in txts[1], txts[1]


def test_ivf_centroid_init_is_top_n_not_full_sort(spark, sf_dir):
    """ivf_centroids' hash-pick init must plan as TakeOrderedAndProject
    (per-partition top-N, driver merges n_cells rows) — a global Sort
    before the limit would shuffle the whole corpus to take 8 rows."""
    from ton_etl_spark.operators.similarity import _init_pick

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    plan = _executed_plan(_init_pick(emb, 8, "vec_id", "embedding", 42))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_minhash_index_probe_broadcasts_new_side_only(spark, sf_dir, tmp_path):
    """probe_minhash_index's scale contract: the NEW batch (entries and
    candidate sigs) is broadcast, the STORED index streams — the plan must
    use broadcast joins only, with no shuffle exchange over the stored
    entries/sigs scans."""
    from ton_etl_spark.operators.dedup import (
        probe_minhash_index,
        write_minhash_index,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    path = str(tmp_path / "mh")
    write_minhash_index(docs.select("doc_id", "text"), path)
    new = docs.select("doc_id", "text").limit(3).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    plan = _executed_plan(probe_minhash_index(spark, path, new))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # the ONLY shuffle allowed is the candidate-pair dedup on the slim
    # (new_id, index_id) keys; the stored entries/sigs (wide arrays) must
    # never hash-partition
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "new_id" in line and "sig" not in line and "bhash" not in line, line


def test_pii_redaction_is_pure_projection(spark, sf_dir):
    """The PII scrub must stay a scan + codegen'd project — zero exchanges,
    zero Python evals: it composes with any pipeline stage for free."""
    from ton_etl_spark.plans.queries import QUERIES

    plan = _executed_plan(QUERIES["pii_redaction"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Python" not in plan  # no UDF fallback — regexp stays JVM-side
    assert "*(1) Project" in plan  # the '*' marks whole-stage codegen


def test_tokenizer_staged_once_in_doc_queries(spark, sf_dir):
    """Round-8 staging lock: the doc-family queries evaluate the word
    tokenizer regex in exactly ONE projection; the per-feature references
    are column refs, not clones of the regex tree.  (The inline forms
    re-ran the regex per reference wherever the clone sat in a position
    codegen subexpression elimination cannot deduplicate — conditional
    when-branches in lang_id, the Generate node in the contamination
    postings — measured 2.1x on doc_lang_counts at 50k docs.)"""
    from ton_etl_spark.plans.queries import QUERIES

    for name in ("doc_token_stats", "doc_quality", "doc_lang_counts",
                 "doc_repetition"):
        plan = _executed_plan(QUERIES[name](spark, sf_dir))
        n = plan.count("regexp_extract_all")
        assert n == 1, f"{name}: tokenizer appears {n}x in the plan"
    # pack_chunks: the windowed subtree has two consumers (join probe +
    # seg-totals aggregate), so the plan TEXT shows the tokenizer twice —
    # but the branches are canonically identical and AQE must reuse the
    # one exchange, so the scan + tokenizer EXECUTE once.  The explicit
    # NULL-key pre-drop in token_stream_offsets is what keeps the branches
    # identical; this lock catches anything that breaks the symmetry.
    df = QUERIES["pack_chunks"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final.splitlines()[0]
    assert "ReusedExchange" in final, "pack_chunks exchange reuse regressed"


def test_pack_chunks_deferred_drop_is_exact(spark):
    """The round-8 deferred zero-token drop (filter above the cumsum
    windows instead of pushed into the scan) must be row-identical to the
    pre-filter form for every degenerate count: zero, NULL and negative
    ``n_tok`` values, NULL group and NULL order keys."""
    from pyspark.sql import Window
    from ton_etl_spark.operators.packing import token_stream_offsets

    rows = [
        (1, 5, "a"), (2, 0, "a"), (3, None, "a"), (4, -7, "a"), (5, 3, "a"),
        (6, 2, None), (None, 4, "b"), (7, 1, "b"), (8, 0, "b"), (9, 9, "b"),
        (10, 6, "c"), (11, None, "c"), (12, -1, "c"),  # c: trailing junk
        (13, 2, "d"), (14, 0, "d"),  # d: zero-token LAST row in segment
    ]
    docs = spark.createDataFrame(rows, "doc_id long, n long, source string")
    for seg_width in (1, 4, 4096):
        got = token_stream_offsets(docs, F.col("n"), seg_width=seg_width)
        w = Window.partitionBy("source").orderBy("doc_id")
        # reference = the pre-round-8 shape: filter first, plain cumsum.
        # NULL group/order rows never match the operator's inner seg_base
        # join (its standing contract), so the reference drops them too.
        want = (
            docs.withColumn("__n_tok", F.col("n").cast("long"))
            .where(F.col("__n_tok") > 0)
            .where(F.col("source").isNotNull() & F.col("doc_id").isNotNull())
            .withColumn("__off", F.sum("__n_tok").over(w) - F.col("__n_tok"))
        )
        g = {r["doc_id"]: (r["__n_tok"], r["__off"]) for r in got.collect()}
        e = {r["doc_id"]: (r["__n_tok"], r["__off"]) for r in want.collect()}
        assert g == e, f"seg_width={seg_width}: {g} != {e}"
