"""Table maintenance: compaction rewrite, tombstone GC, snapshot expiry.

Reference analogs: the daily Airflow CTAS repartition/rewrite that compacts
each partition into a bounded file set (``datalake_daily_sync.py:298-337``,
``bucket_count=1`` at :301-310) and the `dedup_depth` horizon beyond which
old data is considered settled (``:412-630``).  Iceberg analog:
``rewrite_data_files`` + ``expire_snapshots``.

One copy-on-write step, ``_rewrite``, is behind every maintenance rewrite
that keeps the bucket layout (``rewrite_buckets``, ``gc_tombstones``,
``compact_small_files``, ``rewrite_zorder``, ``delete_where``,
``update_where``): it reads exactly the given files at one snapshot,
replaces the buckets they live in, carries those buckets' other files by
reference, and commits against that same snapshot.  Each operation states
only three things: which files, which row rule (keep, drop or change a
row, and so its change feed) and which write order.  ``rebucket`` changes
the layout and so commits through ``LakeTable._commit`` directly.

Scale notes: a rewrite is a full copy-on-write of the selected files —
at 100 TB you compact *bucket subsets* on a rolling schedule, never the
world in one commit.  Choosing the slice and rewriting it are two steps,
as in the reference's per-partition CTAS: ``rolling_maintenance`` picks
one bucket group per maintenance epoch and calls the rewrite its caller
names with ``buckets=`` and ``commit_key=``.  Snapshot expiry is pure
driver-side metadata work plus file deletes.
"""

from __future__ import annotations

import functools
import operator
import os
import uuid
from collections import Counter
from collections.abc import Callable

from pyspark.sql import functions as F

from ton_etl_spark.cdc.schema import LSN_COL, OP_COL
from ton_etl_spark.lake.table import (
    DATA_DIR,
    DELETE,
    INSERT,
    MANIFEST_DIR,
    ROW,
    DataFile,
    LakeTable,
    Snapshot,
    feed_frame,
    outputs,
)

# a bucket packs only when it holds at least this many small files —
# packing one small file into one small file is pure churn
MIN_PACK_FILES = 2


def _scan(table: LakeTable, snap: Snapshot, files: list[DataFile]):
    """Exactly ``files``, read under ``snap.schema``: an old file NULL-fills
    a late-added column, like ``read()``."""
    paths = [os.path.join(table.root, f.path) for f in files]
    return table.spark.read.schema(snap.schema).parquet(*paths)


def _rewrite(
    table: LakeTable,
    snap: Snapshot,
    files: list[DataFile],
    commit_key: str | None,
    out=None,
    new: dict | None = None,
    sort_exprs: list | None = None,
    properties_update: dict[str, str] | None = None,
) -> tuple[bool, list[int]]:
    """The ONE copy-on-write step: read exactly ``files`` at ``snap``, turn
    each row into the ``feed_frame`` outputs ``out`` with post-image
    ``new`` (None: every row is kept and the feed is empty), and replace
    the buckets the files live in, carrying each bucket's other files
    into its new manifest by reference.  The commit is anchored on
    ``snap.version``, so a commit that lands in these buckets after
    ``snap`` conflicts instead of being overwritten.  ``sort_exprs`` is
    the write order (None: the declared ``sort_cols``).  Returns
    ``(applied, replaced buckets)``."""
    buckets = sorted({f.bucket for f in files})
    scanned = {f.path for f in files}
    keep_files: dict[int, list[DataFile]] = {b: [] for b in buckets}
    for f in snap.files_for(buckets):
        if f.path not in scanned:
            keep_files[f.bucket].append(f)
    df = _scan(table, snap, files)
    if out is not None:
        df = feed_frame(df, snap.schema, out, new=new)
    ok = table.overwrite_buckets(
        df, buckets, commit_key=commit_key, schema=snap.schema,
        base_version=snap.version, sort_exprs=sort_exprs, keep_files=keep_files,
        properties_update=properties_update, feed=out is not None,
    )
    return ok, buckets


def _kept_or_deleted(keep) -> "F.Column":
    """``feed_frame`` outputs of a row filter: a row satisfying ``keep``
    stays, any other row (``keep`` false or NULL) is a deleted row."""
    return F.when(F.coalesce(keep, F.lit(False)), outputs(ROW)).otherwise(outputs(DELETE))


def rewrite_buckets(
    table: LakeTable,
    buckets: list[int] | None = None,
    commit_key: str | None = None,
) -> dict:
    """Copy-on-write rewrite of every file of ``buckets`` (default: all),
    keeping every row: collapses each bucket back to bounded files — the
    full compaction.  The change feed is empty.  Idempotent on
    ``commit_key``."""
    snap = table.current()
    if commit_key is not None and snap.has_commit_key(commit_key):
        return {"applied": False, "buckets": []}
    if buckets is None:
        buckets = sorted(snap.manifests)
    ok, _ = _rewrite(table, snap, snap.files_for(buckets), commit_key)
    return {"applied": ok, "buckets": buckets}


def gc_tombstones(
    table: LakeTable,
    horizon_lsn: int,
    buckets: list[int] | None = None,
    commit_key: str | None = None,
) -> dict:
    """Drop delete-tombstones whose LSN is at or below ``horizon_lsn``:
    ``rewrite_buckets``' files (every file of ``buckets``, default all)
    with a row rule that drops the expired tombstones, so the change
    feed holds them as deletes.

    Tombstones are retained in storage so stale lower-LSN redeliveries
    cannot resurrect a deleted key (see lake/merge.py).  Once the source's
    redelivery horizon has passed ``horizon_lsn`` (the reference's maturity
    window / dedup_depth analog), tombstones at or below it can never be
    outranked and are safe to GC.  Calling this with a horizon ahead of the
    redelivery bound re-opens the resurrection window — the caller owns
    that contract."""
    snap = table.current()
    if commit_key is not None and snap.has_commit_key(commit_key):
        return {"applied": False, "buckets": []}
    if buckets is None:
        buckets = sorted(snap.manifests)
    keep = ~((F.col(OP_COL) == "d") & (F.col(LSN_COL) <= F.lit(horizon_lsn)))
    ok, _ = _rewrite(table, snap, snap.files_for(buckets), commit_key,
                     out=_kept_or_deleted(keep))
    return {"applied": ok, "buckets": buckets}


def default_small_rows(table: LakeTable, snap: Snapshot) -> int | None:
    """The ONE definition of a 'small' (pack-candidate) file — half the
    table's ``target_file_rows``, None when no target is declared.
    Shared by ``compact_small_files`` and ``layout_summary``'s
    ``small_files`` demand signal so the metric an operator watches and
    the threshold ``--binpack`` acts on can never drift apart."""
    target = table._target_file_rows(snap.properties)
    return max(1, target // 2) if target else None


def layout_summary(table: LakeTable, snap: Snapshot) -> dict:
    """``snap``'s layout from manifest metadata alone (no Spark job),
    under the ``describe`` CLI's keys.  ``small_files`` is the bin-pack
    demand signal: files below ``default_small_rows``, None when the
    table declares no target.  ``describe`` prints this dict and the
    exporter's layout gauges publish it, so the two surfaces cannot
    disagree."""
    files = snap.files
    thr = default_small_rows(table, snap)
    per_bucket = Counter(f.bucket for f in files)
    return {
        "n_files": len(files),
        "rows_total": sum(f.rows for f in files),
        "files_per_bucket": {str(b): n for b, n in sorted(per_bucket.items())},
        "stats_columns": sorted({c for f in files if f.stats for c in f.stats}),
        "stats_coverage": (
            round(sum(1 for f in files if f.stats) / len(files), 4) if files else None
        ),
        "small_files": (
            sum(1 for f in files if f.rows < thr) if thr is not None else None
        ),
    }


def compact_small_files(
    table: LakeTable,
    buckets: list[int] | None = None,
    small_rows: int | None = None,
    commit_key: str | None = None,
) -> dict:
    """Bin-pack compaction (the Iceberg ``rewrite_data_files`` binpack
    strategy role): the rewrite step's files are the small ones — below
    the size threshold — of each bucket that holds at least
    ``MIN_PACK_FILES`` of them, and every row is kept.  They are coalesced
    into fresh packed files, while the bucket's well-sized files are
    carried into the new manifest by reference, never opened, never
    rewritten.

    This is the write-amplification fix for a streaming ingest loop at
    100 TB: each epoch appends one small file per touched bucket, so after
    the first full compaction a bucket is one big file plus a few slivers
    — ``rewrite_buckets`` would re-copy the big file every maintenance
    cycle (full bucket I/O for a few thousand new rows), while bin-pack
    I/O is proportional to the NEW data only.  Tombstones ride along
    unfiltered (row GC stays ``gc_tombstones``' contract).

    ``small_rows``: files with fewer rows are pack candidates (default:
    half the table's ``target_file_rows``).  Idempotent on
    ``commit_key``; concurrency follows ``overwrite_buckets`` (bucket-
    granular conflicts, metadata-only rebase when disjoint)."""
    snap = table.current()
    if commit_key is not None and snap.has_commit_key(commit_key):
        return {"applied": False, "buckets": [], "packed_files": 0}
    threshold = small_rows if small_rows is not None else default_small_rows(table, snap)
    if threshold is None:
        raise ValueError(
            "compact_small_files needs a threshold: pass small_rows= "
            "or create the table with target_file_rows (without one "
            "there is no definition of 'small')"
        )
    small: dict[int, list[DataFile]] = {}
    for f in snap.files_for(buckets):
        if f.rows < threshold:
            small.setdefault(f.bucket, []).append(f)
    files = [f for fs in small.values() if len(fs) >= MIN_PACK_FILES for f in fs]
    if not files:
        return {"applied": False, "buckets": [], "packed_files": 0}
    ok, touched = _rewrite(table, snap, files, commit_key)
    return {"applied": ok, "buckets": touched, "packed_files": len(files)}


def rolling_maintenance(
    table: LakeTable,
    epoch: int,
    every: int = 8,
    groups: int = 4,
    rewrite: Callable[..., dict] = rewrite_buckets,
) -> dict | None:
    """Automated maintenance policy for a long-running ingest loop: every
    ``every`` epochs, run ``rewrite`` on ONE rolling group of buckets (the
    group id cycles with the epoch).  This step chooses only the slice;
    the caller names what runs on it.

    Rolling by bucket group is the 100 TB discipline: each maintenance
    commit rewrites 1/``groups`` of the table, so maintenance cost per
    epoch is bounded and amortized instead of a periodic full-table
    rewrite (reference analog: the daily CTAS compaction works one
    partition at a time, ``datalake_daily_sync.py:298-337``).  Over
    ``every × groups`` epochs every bucket gets maintained once.

    ``rewrite(table, buckets=, commit_key=) -> dict`` is any rewrite of
    this module scoped to a bucket list: ``rewrite_buckets`` (default, a
    full collapse), ``gc_tombstones``, ``compact_small_files`` or
    ``rewrite_zorder``, with their other arguments bound by
    ``functools.partial``.

    Returns None on non-maintenance epochs and on a group with no bucket;
    otherwise the rewrite's result.  Idempotent per epoch via the
    ``roll=<epoch>`` commit key (recent-keys dedup, so a foreachBatch
    retry doesn't rewrite twice)."""
    if every <= 0 or (epoch + 1) % every != 0:
        return None
    g, key = rolling_slot(epoch, every, groups)
    buckets = [b for b in sorted(table.current().manifests) if b % groups == g]
    if not buckets:
        return None
    return rewrite(table, buckets=buckets, commit_key=key)


def rolling_slot(epoch: int, every: int, groups: int) -> tuple[int, str]:
    """The bucket group that maintenance epoch ``epoch`` rewrites under
    ``rolling_maintenance``, and the ``roll=`` commit key it records."""
    g = ((epoch + 1) // every - 1) % groups
    return g, f"roll={epoch}-g{g}"


def rebucket(
    table: LakeTable,
    new_n_buckets: int,
    commit_key: str | None = None,
) -> dict:
    """Bucket-count evolution: rewrite the whole table under a new bucket
    count and swap it in with ONE CAS snapshot publish.

    A table that grows 100× is otherwise stuck with its creation-time
    ``n_buckets`` (one bucket ≈ a few GB by design), which silently
    degrades merge parallelism and file sizing — the Iceberg analog is
    rewriting data under an evolved partition spec.  Mechanics:

    - ALL rows are read at the planning snapshot — including delete
      tombstones: dropping them here would re-open the stale-redelivery
      resurrection window that ``gc_tombstones`` manages deliberately.
    - One job, one shuffle (repartition on the NEW bucket expression —
      ``bucket_of(key, new_n)`` is the same ``murmur3_v1`` family, so
      ``check_bucket_fn`` keeps passing; the snapshot's per-version
      ``n_buckets`` is what readers and merges consult, so time-travel
      reads of old versions keep pruning with the OLD count).
    - The swap is one ``LakeTable._commit`` replacing every bucket, so
      its rebase rule is merge/overwrite's: an interleaved commit that
      touched a bucket or the schema wins and this raises
      ``CommitConflictError`` (re-derive); one that only recorded a commit
      key (the mart refresh's empty append) is rebased over.  Run it
      between epochs of the ingest loop, or let the loop's next merge pick
      up the new count automatically from the snapshot.

    At 100 TB this is a full copy-on-write — schedule it like any spec
    rewrite (dedicated job, off-peak); the commit itself is metadata-light
    (one manifest per new bucket) and readers never see a mixed layout.
    Idempotent on ``commit_key``."""
    snap = table.current()
    if commit_key is not None and snap.has_commit_key(commit_key):
        return {"applied": False, "n_buckets": snap.n_buckets}
    table.check_bucket_fn(snap)
    if new_n_buckets <= 0:
        raise ValueError("new_n_buckets must be positive")
    if new_n_buckets == snap.n_buckets:
        return {"applied": False, "n_buckets": snap.n_buckets}
    df = table.read(version=snap.version)  # raw rows, tombstones included
    commit_id = f"c{snap.version + 1}-rb{uuid.uuid4().hex[:8]}"
    new_files, _ = table._write_commit_files(
        df, commit_id, new_n_buckets, snap.key_cols, snap.properties
    )
    # every bucket of the old layout is replaced by the new layout's files;
    # every row is kept, so the feed is empty
    if not table._commit(snap, commit_id, commit_key, new_files, [],
                         replace=range(snap.n_buckets), n_buckets=new_n_buckets):
        return {"applied": False, "n_buckets": table.current().n_buckets}
    return {
        "applied": True,
        "n_buckets": new_n_buckets,
        "files": len(new_files),
        "rows": sum(f.rows for f in new_files),
    }


def clustering_overlap(
    table: LakeTable,
    files: list | None = None,
    cols: list[str] | None = None,
) -> dict:
    """Per-column clustering quality from manifest metadata alone: the
    fraction of same-bucket file pairs whose [min, max] bounds overlap.

    0.0 = files are range-disjoint (skipping prunes a point/range probe to
    one file per bucket — what ``sort_cols`` / ``rewrite_zorder`` produce
    fresh); 1.0 = every pair overlaps (bounds span the domain, skipping
    never fires — the signal to schedule a clustering rewrite).  Driver
    side over the manifest stats, no Spark job; O(files log files) per
    column even on a fully-overlapping table (pairs are counted via a
    sorted-endpoint identity, never enumerated), so a metrics refresh on
    a badly clustered table — exactly when the gauge matters — costs the
    same as on a healthy one.  Pairs counted per bucket because skipping
    competes only within a bucket's file set.

    Columns with mixed-type bounds (schema evolution) or no stats report
    null.  Buckets with a single stats-carrying file contribute no pairs.
    ``files`` (default: every file of the current snapshot) lets a caller
    that already loaded the manifest entries (``zorder_needed``) pass
    them in instead of re-reading every manifest from disk; ``cols``
    restricts the scoring to the columns actually consumed.
    """
    if files is None:
        files = table.current().files
    seen = {c for f in files if f.stats for c in f.stats}
    cols = sorted(seen if cols is None else (seen & set(cols)))
    out: dict[str, float | None] = {}
    for c in cols:
        overlaps = 0
        try:
            by_bucket: dict[int, list] = {}
            for f in files:
                if f.stats and c in f.stats:
                    by_bucket.setdefault(f.bucket, []).append(tuple(f.stats[c]))
            for ranges in by_bucket.values():
                # sorted-endpoint identity: closed intervals i, j DON'T
                # overlap iff hi_i < lo_j or hi_j < lo_i, and since
                # hi >= lo at most one direction can hold — so each
                # non-overlapping unordered pair is counted exactly once
                # by sum_j |{i : hi_i < lo_j}| (i = j never qualifies).
                # Two sorts + a merge: O(n log n) regardless of how many
                # pairs overlap, vs the naive sweep's O(n * overlapping)
                # which goes quadratic exactly on the badly-clustered
                # tables the metric exists to flag.
                if len(ranges) < 2:
                    continue
                los = sorted(lo for lo, _ in ranges)
                his = sorted(hi for _, hi in ranges)
                disjoint = 0
                h = 0
                for lo in los:
                    while h < len(his) and his[h] < lo:
                        h += 1
                    disjoint += h
                n = len(ranges)
                overlaps += n * (n - 1) // 2 - disjoint
            total = sum(len(v) * (len(v) - 1) // 2 for v in by_bucket.values())
            out[c] = round(overlaps / total, 4) if total else None
        except TypeError:
            out[c] = None  # mixed-type bounds across commits
    return out


def zorder_needed(
    table: LakeTable,
    zorder_cols: list[str],
    threshold: float,
    version: int | None = None,
    buckets: list[int] | None = None,
) -> tuple[bool, float | None, str | None]:
    """Demand gate for a clustering rewrite — manifest math only, no Spark
    job.  Returns ``(needed, worst_overlap, skip_reason)``; the ONE gate,
    applied by ``rewrite_zorder(if_overlap=)`` for every caller.

    A rewrite fires when EITHER holds:

    - a zorder column whose type CAN carry manifest bounds
      (``_stats_encodable``) has bounds on NO file in scope — the metric
      is completely blind to it, which happens exactly once per table:
      before the first rewrite on undeclared stats cols (treating that as
      "well-clustered" would skip the bootstrap forever).
      ``rewrite_zorder`` promotes its cols into ``stats_cols``, so after
      the bootstrap every commit records bounds and the gate runs on:
    - the worst per-column overlap among bounds-carrying files exceeds
      ``threshold`` — post-rewrite erosion shows up here directly,
      because fresh merge/append files carry (wide) recorded bounds.

    The blindness rule deliberately requires ZERO coverage, not full
    coverage: a column that can never encode (boolean/decimal/binary —
    excluded by type), or a stray all-NULL file that records no bounds,
    must not re-trigger a full rewrite every cycle — a rewrite cannot
    manufacture bounds for either.  Columns already PROMOTED into the
    ``stats_cols`` property are likewise exempt from the blind rule:
    promotion proves a bootstrap rewrite (or declared harvesting) already
    ran, so zero coverage there means the data records no bounds (e.g. a
    column that is all-NULL across the scored scope) — unimprovable, and
    without the exemption the gate would degenerate into an unconditional
    full-group rewrite every cycle.  A fully-covered scope with no
    scoreable pairs (single stats-carrying file per bucket) is genuinely
    unimprovable and skips."""
    from ton_etl_spark.lake.table import LakeTable, _stats_encodable

    snap = table.snapshot(version) if version is not None else table.current()
    files = snap.files
    if buckets is not None:
        bset = set(buckets)
        files = [f for f in files if f.bucket in bset]
    if not files:
        return False, None, "empty"
    field_types = {f.name: f.dataType for f in snap.schema.fields}
    unknown = sorted(set(zorder_cols) - set(field_types))
    if unknown:
        # same loud-misconfig contract as create()'s stats_cols check: a
        # typo'd column would otherwise just never fire the gate
        raise ValueError(f"zorder_cols not in schema: {unknown}")
    declared = set(LakeTable._prop_cols(snap.properties, "stats_cols"))
    blind = sorted(
        c for c in zorder_cols
        if _stats_encodable(field_types[c])
        and c not in declared
        and not any(f.stats and c in f.stats for f in files)
    )
    ov = clustering_overlap(table, files=files, cols=list(zorder_cols))
    scores = [ov[c] for c in zorder_cols if ov.get(c) is not None]
    worst = max(scores) if scores else None
    if blind:
        return True, worst, None
    if worst is not None and worst > threshold:
        return True, worst, None
    return False, worst, "well-clustered"


def _predicate_files(table: LakeTable, snap: Snapshot, where: dict, where_in: dict,
                     file_granular: bool, commit_key: str | None, op: str):
    """The rewrite files of a predicate-scoped DELETE/UPDATE at ``snap``,
    from ``table.plan``: ``(files, matched)``, or None when ``commit_key``
    is already applied or no file may match.  ``matched`` is the plan's
    residual with NULL => False.  Bucket-granular, ``files`` is every
    file of the buckets holding a file the plan kept; with
    ``file_granular`` it is the plan's files only, and the rewrite step
    carries the buckets' other files by reference — exact by the skipping
    argument: a file the plan skipped holds no matching row, so keeping
    it whole equals filtering it."""
    if any(lo is None and hi is None for lo, hi in where.values()):
        raise ValueError(
            f"{op} needs bounded ranges; a (None, None) range would also "
            "match NULL rows, contradicting the NULL-kept contract"
        )
    if not where and not where_in:
        raise ValueError(
            f"{op} needs at least one bounded range or a where_in probe list"
        )
    if commit_key is not None and snap.has_commit_key(commit_key):
        return None
    plan = table.plan(version=snap.version, where=where, where_in=where_in)
    if not plan.files:
        return None
    files = plan.files
    if not file_granular:
        files = snap.files_for(sorted({f.bucket for f in files}))
    return files, F.coalesce(plan.residual, F.lit(False))


def delete_where(
    table: LakeTable,
    where: dict | None = None,
    commit_key: str | None = None,
    protect_tombstones: bool = True,
    file_granular: bool = False,
    where_in: dict | None = None,
) -> dict:
    """Delete every row inside the ``where`` ranges (column -> inclusive
    (lo, hi), either bound None for open-ended but not both; ranges AND
    together — ``read(where=...)``'s contract, inverted).

    Stats-pruned: only buckets holding at least one file whose manifest
    [min, max] bounds can intersect the ranges are rewritten — deleting
    one day / one LSN span from a 100 TB table touches the few buckets'
    files that overlap it, not the world (Iceberg's metadata-pruned
    DELETE role; the commit unit here is the bucket, and maintenance
    keeps buckets split into bounded files, so bucket ≈ a small file
    set).  Files without bounds on a range column conservatively count
    as intersecting — pruning is an optimization, the predicate is the
    truth.

    Snapshot consistency: the prune list, the data read, and the CAS all
    anchor on ONE snapshot — the delete means "as of version v"; a
    commit racing into a replaced bucket conflicts (or legally rebases
    per ``overwrite_buckets``), and rows committed concurrently to other
    buckets are after this delete's snapshot by definition.

    NULL semantics match the read path: a NULL in a range column never
    matches a range, so such rows are always KEPT.  CDC delete
    tombstones (op='d') are also kept by default — dropping them
    re-opens the redelivery resurrection window that ``gc_tombstones``'s
    horizon contract exists to prevent; pass
    ``protect_tombstones=False`` only when the source's redelivery
    horizon has passed the deleted range.

    ``file_granular=True``: within each touched bucket, files whose
    bounds exclude the ranges are carried into the new manifest
    UNCHANGED — only intersecting files are read and rewritten (the
    Iceberg copy-on-write file-scoped DELETE).  Exact by the same
    argument as read-skipping: a file whose bounds exclude a range
    holds no matching row, so keeping it whole equals filtering it.
    This is the 100 TB operating point — a narrow LSN/day delete in a
    hot bucket rewrites a few files, not the bucket; the default stays
    bucket-granular because it also re-compacts what it touches.

    ``where_in`` maps column -> collection of probe values (AND with
    ``where``; values within a column OR) — the per-KEY delete
    (GDPR-style "remove these doc_ids"; reference analog: the per-key
    DELETE statements in ``parser/db.py``).  Pruning composes the read
    path's point-lookup layers: a probe covering the table's key columns
    restricts candidates to the buckets the keys hash to, and in-list
    manifest skipping (sorted-probe bisect) drops files whose bounds
    exclude every value.  A NULL or unencodable probe value keeps that
    column unprunable but never breaks exactness (NULL never matches
    ``isin`` — NULL rows are always kept, same as ranges)."""
    snap = table.current()
    scope = _predicate_files(table, snap, where or {}, where_in or {},
                             file_granular, commit_key, "delete_where")
    if scope is None:
        return {"applied": False, "buckets": [], "deleted_rows": 0}
    files, matched = scope
    keep = ~matched  # NULL pred col => kept
    if protect_tombstones and OP_COL in snap.schema.fieldNames():
        keep = keep | F.coalesce(F.col(OP_COL) == "d", F.lit(False))
    ok, buckets = _rewrite(table, snap, files, commit_key, out=_kept_or_deleted(keep))
    before = sum(f.rows for f in snap.files_for(buckets))
    # post-commit re-read: exact unless another writer lands in these
    # buckets between our commit and this read (our own commit already
    # conflicts/rebases any interleaved touch of them)
    after = (
        sum(f.rows for f in table.current().files_for(buckets)) if ok else before
    )
    return {"applied": ok, "buckets": buckets, "deleted_rows": before - after}


def update_where(
    table: LakeTable,
    set_exprs: dict,
    where: dict | None = None,
    where_in: dict | None = None,
    commit_key: str | None = None,
    file_granular: bool = False,
) -> dict:
    """Predicate-scoped copy-on-write UPDATE (the Iceberg UPDATE role;
    reference analog: the targeted UPDATE statements the reference's
    daily sync issues against already-landed rows,
    ``datalake_daily_sync.py``).  Rows matching the predicate get
    ``set_exprs`` applied (column -> Spark Column or SQL expression
    string, cast back to the column's type so the schema never drifts);
    every other row — including non-matching rows inside touched files —
    is carried through byte-identical.

    The flagship use is in-place curation/compliance rewrites at the
    100 TB operating point: "redact PII in these doc_ids" or "re-score
    this day's quality column" rewrites only the buckets (or, with
    ``file_granular=True``, only the FILES) whose manifest stats can
    match the predicate — same pruning stack as :func:`delete_where`,
    same predicate contract (``where`` inclusive ranges AND
    ``where_in`` probe lists; NULL predicate columns never match, so
    NULL rows are never updated).

    Key columns cannot be set (the new value would belong in a different
    bucket — that is a delete+insert, not an update).  Envelope columns
    (op/lsn/ts_ms) CAN be set but rewriting them on a CDC table changes
    LWW ordering history — the caller owns that; updating payload
    columns (the redaction case) leaves ordering intact.

    Change feed: each row whose set columns change is a delete of its old
    image and an insert of its new one.  That is the commit's net change
    unless two rows of one key are updated so that one's new image equals
    the other's old one (possible only where a key holds several rows);
    ``changes()`` then reports both.

    Returns ``{"applied", "buckets", "updated_rows"}`` — ``updated_rows``
    is the exact matched count (one extra scan of the touched slice;
    compliance updates want the audited number)."""
    if not set_exprs:
        raise ValueError("update_where needs at least one set column")
    snap = table.current()
    unknown = sorted(set(set_exprs) - set(snap.schema.fieldNames()))
    if unknown:
        raise ValueError(f"set columns not in schema: {unknown}")
    bad_keys = sorted(set(set_exprs) & set(snap.key_cols))
    if bad_keys:
        raise ValueError(
            f"cannot set key columns {bad_keys}: the updated row would "
            "hash to a different bucket — that is a delete+insert"
        )
    scope = _predicate_files(table, snap, where or {}, where_in or {},
                             file_granular, commit_key, "update_where")
    if scope is None:
        return {"applied": False, "buckets": [], "updated_rows": 0}
    files, matched = scope  # NULL pred col => untouched
    updated_rows = _scan(table, snap, files).where(matched).count()
    new = {}
    for f in snap.schema.fields:
        if f.name in set_exprs:
            e = set_exprs[f.name]
            e = F.expr(e) if isinstance(e, str) else e
            new[f.name] = F.when(matched, e.cast(f.dataType)).otherwise(F.col(f.name))
    # feed: a row whose set columns really changed is a delete of its old
    # image plus an insert of the new one
    changed = functools.reduce(
        operator.or_, [~new[c].eqNullSafe(F.col(c)) for c in new]
    )
    out = F.when(changed, outputs(ROW, INSERT, DELETE)).otherwise(outputs(ROW))
    ok, buckets = _rewrite(table, snap, files, commit_key, out=out, new=new)
    return {"applied": ok, "buckets": buckets, "updated_rows": updated_rows}


def retention_sweep(
    table: LakeTable,
    where: dict,
    commit_key: str | None = None,
    keep_last: int = 2,
    grace_seconds: float = 600.0,
    compact: bool = False,
) -> dict:
    """Bounded-growth policy for append-only sidecar tables that live
    inside an unbounded stream (curation decisions, observability metrics,
    lineage): delete every row inside the ``where`` horizon ranges
    (``delete_where`` semantics — stats-pruned, and the rewrite collapses
    each touched bucket back to compact files), then expire snapshot
    metadata and unreferenced data files beyond the newest ``keep_last``
    versions.  Tagged snapshots always survive expiry — a tag pins what
    retention must never collect.  Idempotent per ``commit_key``; the
    expiry half is monotone and safe to repeat.

    Reference analog: the Postgres tables these sidecars replace are
    bounded by the reference's cron DELETEs/VACUUM; here the horizon is
    explicit and the replay contract is preserved because commit-key
    watermarks live in the snapshot, not in the expired history.

    ``compact=True``: also collapse every bucket's per-append file
    accumulation after the delete — the horizon delete only rewrites
    buckets holding EXPIRED rows, so a quiet period where nothing expires
    would otherwise let still-live append files pile up between sweeps.
    Sidecar tables are small by construction; a full compact per sweep
    cycle is bounded work."""
    d = delete_where(table, where, commit_key=commit_key)
    if compact and table.current().manifests:
        rewrite_buckets(
            table,
            commit_key=f"{commit_key}-compact" if commit_key else None,
        )
    e = expire_snapshots(table, keep_last=keep_last, grace_seconds=grace_seconds)
    return {**d, "expired": {k: v for k, v in e.items() if k != "kept_versions"}}


_ZORDER_TEMPORAL = {"timestamp": F.unix_micros, "timestamp_ntz": F.unix_micros,
                    "date": F.unix_date}
_ZORDER_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double", "long")


def _zorder_double(df, col: str):
    """Map a z-order dimension to a double for quantile binning.  ANSI mode
    rejects temporal→numeric casts, so temporals go through the epoch
    functions; decimals and the fixed-width numerics cast directly."""
    dtype = dict(df.dtypes)[col]
    fn = _ZORDER_TEMPORAL.get(dtype)
    if fn is not None:
        return fn(F.col(col)).cast("double")
    if dtype in _ZORDER_NUMERIC or dtype.startswith("decimal"):
        return F.col(col).cast("double")
    raise TypeError(
        f"z-order supports numeric/temporal columns; {col!r} is {dtype} "
        "(string locality doesn't survive bit interleaving — use bloom_cols "
        "for point lookups on strings)"
    )


def zorder_boundaries(df, cols: list[str], bits: int = 8) -> dict[str, list[float]]:
    """Per-column quantile bin boundaries for the z-value (2^bits bins).

    Quantile bins, not min/max linear scaling: a skewed column (lsn hot at
    the head, value with outliers) would otherwise collapse into a few
    linear bins and the interleave would carry no information for it.
    One approxQuantile pass over the rewrite input, driver gets ≤
    (2^bits - 1) doubles per column — bounded metadata, like Delta's
    range-partition ids."""
    n_bins = 1 << bits
    probs = [i / n_bins for i in range(1, n_bins)]
    proj = df.select(*[_zorder_double(df, c).alias(c) for c in cols])
    out: dict[str, list[float]] = {}
    for c, qs in zip(cols, proj.approxQuantile(cols, probs, 0.001)):
        # constant / near-constant columns repeat boundaries; dedupe so the
        # binning expression stays minimal (empty => every row bins to 0)
        out[c] = sorted(set(qs))
    return out


def zorder_value(df, boundaries: dict[str, list[float]], bits: int = 8):
    """Morton (z-order) value as a pure Column expression — no UDF, no
    materialized column: bin each dimension by its quantile boundaries
    (count of boundaries ≤ value, NULL → bin 0 so NULL rows cluster
    together), then interleave the bin bits across dimensions.

    Column algebra only: the bin is one ``aggregate`` over a boundary
    array literal (O(2^bits) JVM adds per row, I/O-noise for a rewrite)
    and the interleave is a static unroll of shift/mask terms — the whole
    thing stays inside codegen."""
    cols = list(boundaries)
    n_dims = len(cols)
    if n_dims * bits > 63:
        # bit 63 is the sign bit and shiftleft wraps mod 64 past it —
        # either silently destroys the Morton order; fail instead
        raise ValueError(
            f"{n_dims} dims x {bits} bits = {n_dims * bits} z bits; the "
            "interleave must fit a signed long (<= 63) — lower bits or "
            "z-order fewer columns"
        )
    z = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        bs = boundaries[c]
        v = _zorder_double(df, c)
        if bs:
            arr = F.array(*[F.lit(float(b)) for b in bs])
            bin_c = F.aggregate(
                arr,
                F.lit(0),
                lambda acc, b: acc + F.when(v >= b, 1).otherwise(0),
            ).cast("long")
        else:
            bin_c = F.lit(0).cast("long")
        for i in range(bits):
            bit = F.shiftright(bin_c, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n_dims + d)
    return z


def rewrite_zorder(
    table: LakeTable,
    cols: list[str],
    buckets: list[int] | None = None,
    commit_key: str | None = None,
    bits: int = 8,
    if_overlap: float | None = None,
) -> dict:
    """Z-order clustering rewrite: re-sort each bucket's rows by the Morton
    interleave of ``cols`` so file-level [min, max] bounds get tight on
    EVERY listed column at once — multi-dimensional file skipping, where
    ``sort_cols`` clusters only its leading column (Iceberg/Delta
    ``rewrite_data_files(strategy => 'zorder')`` role).

    Runs on the one rewrite step: every file of ``buckets`` (default all),
    every row kept, written in z-order — same CAS commit, same rebase
    rules, same bucket layout (z-ordering changes clustering WITHIN
    buckets, never row→bucket routing).  The commit PROMOTES ``cols``
    into the ``stats_cols`` property and writes its files under it, so
    they and every later merge/append record bounds for ``cols``.
    Without the promotion, post-rewrite commits drop the bounds: files are
    unprunable on those columns, the overlap metric is blind to them,
    and ``zorder_needed``'s coverage rule would fire EVERY cycle on a
    merge-heavy table (merges rewrite whole buckets) — always-on full
    rewrites disguised as a demand gate.  With it, coverage stays 1 and
    the gate keys on the honest signal: measured overlap of the recorded
    bounds.  Later merge commits still sort by the declared ``sort_cols``
    — z-order locality decays as buckets take new writes, so schedule
    this like compaction (it IS a compaction, one rolling bucket group
    at a time at 100 TB — the ``buckets`` arg).

    ``if_overlap``: make the rewrite DEMAND-DRIVEN — it runs only when
    ``zorder_needed`` over ``cols`` at this threshold says so, scored on
    the snapshot and files it would rewrite (manifest math only, no Spark
    job), so a well-clustered table pays zero rewrite I/O while a
    degrading ingest stream still self-heals.  A skip returns
    ``{"applied": False, "buckets", "overlap", "skipped"}``; a run adds
    ``"overlap"`` to the rewrite's result."""
    snap = table.current()
    if commit_key is not None and snap.has_commit_key(commit_key):
        return {"applied": False, "buckets": []}
    if buckets is None:
        buckets = sorted(snap.manifests)
    gate = {}
    if if_overlap is not None:
        needed, worst, reason = zorder_needed(
            table, cols, if_overlap, version=snap.version, buckets=buckets)
        if not needed:
            return {"applied": False, "buckets": buckets, "overlap": worst,
                    "skipped": reason}
        gate = {"overlap": worst}
    files = snap.files_for(buckets)
    df = _scan(table, snap, files)  # the quantile pass reads what is rewritten
    bounds = zorder_boundaries(df, cols, bits=bits)
    declared = LakeTable._prop_cols(snap.properties, "stats_cols")
    promoted = list(dict.fromkeys(declared + list(cols)))
    ok, _ = _rewrite(
        table, snap, files, commit_key, sort_exprs=[zorder_value(df, bounds, bits=bits)],
        properties_update=(
            {"stats_cols": ",".join(promoted)} if promoted != declared else None
        ),
    )
    return {"applied": ok, "buckets": buckets,
            "bins": {c: len(b) + 1 for c, b in bounds.items()}, **gate}


def expire_snapshots(
    table: LakeTable, keep_last: int = 1, grace_seconds: float = 600.0
) -> dict:
    """Delete snapshot metadata older than the newest ``keep_last``
    versions and any data or change-feed file no kept snapshot references
    (a kept snapshot keeps its own feed, so ``changes()`` over kept
    versions still reads).  Time-travel reads to expired versions, and
    ``changes()`` intervals that span one, stop working (same contract as
    Iceberg ``expire_snapshots``); the commit-key history of the CURRENT snapshot
    is untouched, so batch idempotency is preserved.  TAGGED versions are
    always kept (Iceberg tag retention): a tag pins the exact dataset a
    training run consumed, so retention can never collect it — delete the
    tag to release it.

    ``grace_seconds``: files younger than this are never deleted even when
    unreferenced.  A concurrent commit writes its data files and manifest
    BEFORE publishing the snapshot that references them; without the grace
    window, maintenance running inside that gap would collect the
    about-to-be-published files and corrupt the commit (Iceberg's
    ``expire_snapshots`` carries the same ``older_than`` guard).  Pass 0
    only when the caller serializes expiry with writers."""
    import time

    cur = table.current_version()
    keep_versions = set(range(max(0, cur - keep_last + 1), cur + 1))
    keep_versions.update(table.tags().values())
    referenced: set[str] = set()
    referenced_manifests: set[str] = set()
    for v in keep_versions:
        s = table.snapshot(v)
        referenced_manifests.update(s.manifests.values())
        referenced.update(f.path for f in s.files)
        referenced.update(c.path for c in s.feed or ())

    cutoff = time.time() - grace_seconds

    def _expired(path: str) -> bool:
        try:
            return os.path.getmtime(path) <= cutoff
        except OSError:
            return False

    removed_files = 0
    data_root = os.path.join(table.root, DATA_DIR)
    for commit_dir in list(os.listdir(data_root)) if os.path.isdir(data_root) else []:
        cdir = os.path.join(data_root, commit_dir)
        for sub, _dirs, files in os.walk(cdir, topdown=False):
            for fn in files:
                full = os.path.join(sub, fn)
                rel = os.path.relpath(full, table.root)
                if rel not in referenced and _expired(full):
                    os.unlink(full)
                    removed_files += 1
            if not os.listdir(sub):
                os.rmdir(sub)

    # manifests referenced only by expired snapshots (same write-then-publish
    # race as data files, same grace guard)
    removed_manifests = 0
    man_root = os.path.join(table.root, MANIFEST_DIR)
    if os.path.isdir(man_root):
        for fn in os.listdir(man_root):
            rel = os.path.join(MANIFEST_DIR, fn)
            full = os.path.join(table.root, rel)
            if rel not in referenced_manifests and _expired(full):
                os.unlink(full)
                removed_manifests += 1

    removed_snaps = 0
    for v in range(0, cur):
        if v not in keep_versions:
            p = table._snapshot_path(v)
            if os.path.exists(p):
                os.unlink(p)
                removed_snaps += 1
    return {
        "kept_versions": sorted(keep_versions),
        "removed_files": removed_files,
        "removed_snapshots": removed_snaps,
        "removed_manifests": removed_manifests,
    }
