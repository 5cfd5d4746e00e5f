"""Streaming corpus curation — the training-data twin of the CDC ingest
loop: each micro-batch of raw documents runs the batch curation gates
(quality → exact dedup within the batch → near-dup probe against the
persisted corpus minhash index → deterministic mixture sampling) and is
committed exactly-once into a curated LakeTable, with every document's
fate (admitted / gate / dup_batch / dup_corpus / sampled_out, plus the
matched corpus doc) recorded in an append-only decision table — "the
dedup decision in the lineage table".

Composition mirrors the batch twin ``plans.queries.q_curated_corpus``
(same gates, same gate→dedup→sample order, same md5-threshold sampling,
same exact-dup key) and the reference parser loop's
predicate→enrich→sink chain (``parser/main.py:115-137``) with the sink
swapped for the lake commit.  At the exact operating point
(``min_jaccard_est=1.0``: all signature positions equal ⇔ identical
normalized text) the stream's admitted set replays the batch pipeline
row-for-row when delivery is doc_id-ordered (streaming first-seen-wins ≡
batch min-id-wins); lower thresholds turn the same probe into near-dup
curation, which the batch oracle cannot express.

The curated table holds EVERY unique gate-passing document with an
``admitted`` flag (true ⇔ it also passed the mixture sample).  That makes
the table the complete dedup horizon: a duplicate of a sampled-OUT
document is still a duplicate (exactly the batch twin's dedup-before-
sample semantics), the index can always be rebuilt from the table alone,
and the mixture can be re-cut later without re-crawling.  Consumers read
``admitted`` rows.

Scale shape: everything per-document is JVM column algebra; the corpus is
never re-read or re-sketched per batch — cross-batch dedup is the
broadcast-new/stream-index ``probe_minhash_index``, and the index GROWS by
``append_to_minhash_index`` of just the batch's unique newcomers.

Crash-consistency design (the part worth reading twice):

- The curated table and the decision table are each exactly-once via
  their own ``epoch=<batch_id>`` commit key — a crash between the two
  appends replays the batch, the completed append no-ops, the missing one
  applies.
- The minhash index is DERIVED data with an epoch cursor in its sidecar:
  the append runs strictly AFTER the table commits and is skipped when
  ``sidecar.epoch >= batch_id``, so decisions are always computed against
  the pre-epoch index state, on the original run and on every replay.
- If the sidecar is missing (crash mid-append retracted it — the
  sidecar-last contract), the index is REBUILT from the curated table,
  the source of truth, with the cursor set to the table's own epoch
  watermark.  Recovery needs no side channel, same principle as the
  aggregate mart recovering its refresh cursor from its own commit keys.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ton_etl_spark.cdc.stream import _run, _source
from ton_etl_spark.functions import text as TXT
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.operators.dedup import (
    append_to_minhash_index,
    probe_minhash_index,
    write_minhash_index,
)
from ton_etl_spark.operators.sampling import rate_threshold, sample_hash

CURATED_SCHEMA = "doc_id long, text string, source string, admitted boolean"
DECISION_SCHEMA = (
    "epoch long, doc_id long, source string, decision string, match_id long"
)
_META = "_minhash_meta.json"


def make_curated_table(spark: SparkSession, root: str, n_buckets: int = 8) -> LakeTable:
    schema = T.StructType.fromDDL(CURATED_SCHEMA)
    return LakeTable.get_or_create(
        spark, root, schema=schema, key_cols=["doc_id"], n_buckets=n_buckets
    )


def make_decision_table(spark: SparkSession, root: str, n_buckets: int = 4) -> LakeTable:
    schema = T.StructType.fromDDL(DECISION_SCHEMA)
    # epoch bounds in the manifests: the retention sweep's horizon delete
    # prunes to the buckets/files actually holding expired epochs
    return LakeTable.get_or_create(
        spark, root, schema=schema, key_cols=["doc_id"], n_buckets=n_buckets,
        stats_cols=["epoch"],
    )


def read_corpus(table: LakeTable) -> DataFrame:
    """The curated corpus a consumer trains on: admitted rows only."""
    return table.read().where(F.col("admitted")).drop("admitted")


def _ensure_index(table: LakeTable, index_path: str) -> dict:
    """The index's sidecar params, rebuilding the whole index from the
    curated table when the sidecar is absent (fresh start, or a crash
    mid-append retracted it).  The rebuild reads ALL stored rows —
    admitted or not, the full dedup horizon — and sets the epoch cursor to
    the table's own ``epoch`` watermark: the rebuild saw exactly the docs
    those epochs committed."""
    meta_p = os.path.join(index_path, _META)
    if os.path.exists(meta_p):
        with open(meta_p) as fh:
            return json.load(fh)
    wm = table.current().commit_watermarks.get("epoch", -1)
    write_minhash_index(
        table.read().select("doc_id", "text"), index_path, meta_updates={"epoch": wm}
    )
    with open(meta_p) as fh:
        return json.load(fh)


def curate_batch(
    spark: SparkSession,
    table: LakeTable,
    decisions: LakeTable,
    index_path: str,
    batch_df: DataFrame,
    epoch: int,
    min_quality: float = 0.5,
    max_repetition: float = 0.2,
    min_words: int = 10,
    sample_rates: dict[str, float] | None = None,
    default_rate: float = 0.5,
    sample_salt: str = "curate",
    min_jaccard_est: float = 1.0,
) -> dict:
    """Run one micro-batch through the curation gates; commit the unique
    gate-passers (flagged by the sample verdict) and the per-doc decisions
    exactly-once; grow the index by the newcomers.

    Gate order matches the batch twin: quality → within-batch exact dedup
    (keep the smallest doc_id per fingerprint) → corpus probe →
    deterministic sampling.  Dedup runs BEFORE sampling so a sampled-out
    document still shadows its later duplicates — exactly
    ``q_curated_corpus``'s dedup-then-sample semantics."""
    key = f"epoch={epoch}"
    meta = _ensure_index(table, index_path)
    if (
        table.current().has_commit_key(key)
        and decisions.current().has_commit_key(key)
        and int(meta.get("epoch", -1)) >= epoch
    ):
        return {"applied": False, "new_docs": 0}

    t = F.col("text")
    gate_ok = (
        (TXT.quality_score(t) >= min_quality)
        & (TXT.repetition_ratio(t, 3) <= max_repetition)
        & (TXT.word_count(t) >= min_words)
    )
    thr = F.lit(rate_threshold(default_rate))
    for g, r in sorted((sample_rates or {}).items()):
        thr = F.when(F.col("source") == F.lit(g), F.lit(rate_threshold(r))).otherwise(thr)
    samp_ok = sample_hash(F.col("doc_id"), sample_salt) < thr

    base = batch_df.select(
        "doc_id", "text", "source",
        TXT.fingerprint(t).alias("__fp"),
        gate_ok.alias("__gate"),
        samp_ok.alias("__samp"),
    ).persist()
    gated = newcomers = None
    try:
        gated = (
            base.where(F.col("__gate"))
            .withColumn("__keep", F.min("doc_id").over(Window.partitionBy("__fp")))
            .persist()
        )
        batch_kept = gated.where(F.col("doc_id") == F.col("__keep"))
        hits = (
            probe_minhash_index(
                spark,
                index_path,
                batch_kept.select("doc_id", "text"),
                min_jaccard_est=min_jaccard_est,
            )
            .groupBy("new_id")
            .agg(F.min("index_id").alias("match_id"))
        )
        newcomers = (
            batch_kept.join(
                F.broadcast(hits), batch_kept["doc_id"] == hits["new_id"], "left_anti"
            )
            .select("doc_id", "text", "source", F.col("__samp").alias("admitted"))
            .persist()
        )

        dec = F.lit(epoch).cast("long").alias("epoch")
        nul = F.lit(None).cast("long").alias("match_id")
        decision_rows = (
            base.where(~F.col("__gate"))
            .select(dec, "doc_id", "source", F.lit("gate").alias("decision"), nul)
            .unionByName(
                gated.where(F.col("doc_id") != F.col("__keep")).select(
                    dec, "doc_id", "source",
                    F.lit("dup_batch").alias("decision"),
                    F.col("__keep").alias("match_id"),
                )
            )
            .unionByName(
                batch_kept.join(
                    F.broadcast(hits), batch_kept["doc_id"] == hits["new_id"]
                ).select(
                    dec, batch_kept["doc_id"], "source",
                    F.lit("dup_corpus").alias("decision"),
                    F.col("match_id"),
                )
            )
            .unionByName(
                newcomers.select(
                    dec, "doc_id", "source",
                    F.when(F.col("admitted"), F.lit("admitted"))
                    .otherwise(F.lit("sampled_out"))
                    .alias("decision"),
                    nul,
                )
            )
        )

        # commit order is load-bearing: table → decisions → index.  The
        # index append trails the table commit so every run (original or
        # replay) probes the PRE-epoch index state; the sidecar's epoch
        # cursor makes the append itself exactly-once.
        applied = table.append(newcomers, commit_key=key)
        decisions.append(decision_rows, commit_key=key)
        n_new = 0
        if int(meta.get("epoch", -1)) < epoch:
            res = append_to_minhash_index(
                newcomers.select("doc_id", "text"),
                index_path,
                meta_updates={"epoch": epoch},
            )
            n_new = res["appended"]
        return {"applied": applied, "new_docs": n_new}
    finally:
        for df in (newcomers, gated, base):
            if df is not None:
                df.unpersist()


def start_curation_stream(
    spark: SparkSession,
    doc_glob: str,
    table_root: str,
    decision_root: str,
    index_path: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    max_files_per_trigger: int = 2,
    retain_epochs: int | None = None,
    retention_every: int = 8,
    retention_groups: int = 4,
    retention_binpack_rows: int | None = None,
    keep_last_snapshots: int = 2,
    retention_grace_seconds: float = 600.0,
    **gates,
):
    """Streaming curation: a file stream of raw document parquet
    (doc_id/text/source) curated per micro-batch by ``curate_batch``, on
    the CDC streams' one consumer loop (``cdc/stream.py``'s ``_source``
    and ``_run``: same file source, trigger, checkpoint and persisted
    micro-batch).
    Restart with the same ``checkpoint_dir`` resumes from the last
    committed source offset; replayed batches no-op via the commit keys
    and the index's epoch cursor (see module docstring for the crash
    contract).

    ``retain_epochs``: bound the otherwise-forever-growing sidecar state —
    every ``retention_every`` epochs, decision rows older than
    ``current_epoch - retain_epochs`` are swept (``retention_sweep``:
    horizon delete + snapshot expiry) and the curated table gets one
    rolling compaction group plus the same snapshot expiry.  The curated
    CONTENT is never dropped (it is the product; dedup state lives in the
    index and the table rows themselves) — only decision audit rows age
    out, so replay equality is untouched.  Tags pin snapshots that must
    survive expiry."""
    t = make_curated_table(spark, table_root, n_buckets=n_buckets)
    d = make_decision_table(spark, decision_root)
    src = _source(spark, "doc_id long, text string, source string", doc_glob,
                  max_files_per_trigger)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        curate_batch(spark, t, d, index_path, batch_df, batch_id, **gates)
        if retain_epochs is not None and (batch_id + 1) % retention_every == 0:
            from ton_etl_spark.lake.maintenance import (
                compact_small_files,
                expire_snapshots,
                retention_sweep,
                rewrite_buckets,
                rolling_maintenance,
            )

            horizon = batch_id - retain_epochs
            if horizon >= 0:
                retention_sweep(
                    d, {"epoch": (None, horizon)},
                    commit_key=f"retain={batch_id}",
                    keep_last=keep_last_snapshots,
                    grace_seconds=retention_grace_seconds,
                    compact=True,
                )
            # the curated table keeps every row; bound its FILE count
            # (1 file/bucket/epoch of appends) and snapshot metadata.
            # ROLLING groups, never groups=1: the corpus is the unbounded
            # product table, and compacting all of it every retention epoch
            # would be a periodic full-table copy-on-write — exactly what
            # rolling_maintenance exists to avoid (groups=1 is reserved for
            # small-by-construction sidecars like lineage).  The corpus is
            # append-only, so retention_binpack_rows= makes each cycle
            # coalesce only the per-epoch sliver files — I/O proportional
            # to newly admitted docs, never re-copying settled files.
            rewrite = (rewrite_buckets if retention_binpack_rows is None else
                       partial(compact_small_files, small_rows=retention_binpack_rows))
            rolling_maintenance(t, batch_id, every=retention_every,
                                groups=retention_groups, rewrite=rewrite)
            expire_snapshots(
                t, keep_last=keep_last_snapshots,
                grace_seconds=retention_grace_seconds,
            )

    return _run(src, checkpoint_dir, _apply)
