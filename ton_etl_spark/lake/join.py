"""Storage-partitioned (co-located) join between two LakeTables.

Two tables bucketed by the SAME key columns, bucket count, and bucket
function hold matching keys in matching buckets — so an equi-join on the
keys never needs to move a row: bucket i of the left joins bucket i of
the right, independently of every other bucket.  A plain Spark join
cannot see that (the parquet files carry no partitioning Spark trusts)
and plans ``Exchange hashpartitioning`` on BOTH sides — at the 100 TB
operating point that shuffle of two full tables IS the query cost.

``colocated_join`` is the Iceberg storage-partitioned-join role for this
format: the driver pairs up the two manifests' per-bucket file lists
(metadata only), and one ``mapInArrow`` task per bucket reads each
side's files with one ``pyarrow.dataset`` scan (``lake.table.scan``,
shared with the mart fold) and hash-joins them in
Arrow — ZERO Exchange in the physical plan (plan-locked in tests), data
moves only filesystem -> task.  The write side of the same idea is the
MERGE's one shuffle by ``bucket_of`` (lake/merge.py), after which every
task holds whole buckets; this is the read side.

Semantics match Spark/ANSI SQL joins: NULL keys never match (Arrow's
hash join implements SQL null semantics; verified in tests against a
Spark join on identical frames).  Additive schema evolution and type
widening are left to the scan, exactly like ``LakeTable.read``: the
dataset reads every file under the side's current schema (absent column
-> typed NULL, old narrow values cast to the widened type).

List/struct payload columns ride through a surrogate-index join (Arrow's
hash join rejects nested non-key columns): the join runs on slim
(keys + row-index) tables, then payloads are gathered by ``take`` —
null right indices from a left join gather as NULL rows.

Scale shape: one task per bucket.  The RIGHT side is the build side and
is resident per task; the LEFT side STREAMS through the join in
``batch_rows``-sized chunks (each chunk joins independently against the
full right bucket — correct for inner and left-outer alike, since every left
row appears in exactly one chunk and sees every potential match).  Task
memory is therefore O(right bucket + one left chunk): put the smaller
table on the right, and a skewed giant bucket on the left costs I/O,
not memory.  Column pruning happens at the dataset scan, so
``left_columns``/``right_columns`` bound the I/O and the build size,
not just the output width.

Reference analog: the per-key enrichment SELECT-JOINs the reference's
parsers issue against co-stored tables (``parser/db.py:112-256``),
executed here as one distributed zero-shuffle pass instead of per-row
lookups.
"""

from __future__ import annotations

import functools
import json
import operator
import os

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ton_etl_spark.cdc.schema import OP_COL, is_cdc_schema
from ton_etl_spark.lake.table import LakeTable, _local_frame, _Unzoned

__all__ = ["colocated_join"]


def colocated_join(
    left: LakeTable,
    right: LakeTable,
    how: str = "inner",
    left_columns: list[str] | None = None,
    right_columns: list[str] | None = None,
    left_version: int | None = None,
    right_version: int | None = None,
    cdc: str = "live",
    left_where: dict | None = None,
    right_where: dict | None = None,
    batch_rows: int = 1 << 16,
) -> DataFrame:
    """Zero-shuffle equi-join of two co-bucketed LakeTables on their
    shared key columns.  ``how`` ∈ {"inner", "left"}.

    ``left_columns`` / ``right_columns`` select NON-KEY payload columns
    (default: all of them); the key columns always appear once, typed
    from the left schema.  Overlapping payload names raise — project or
    rename first (there is no silent suffixing).

    Layout preconditions (checked loudly): identical ``key_cols`` (same
    order — the bucket hash is order-sensitive), identical ``n_buckets``,
    identical key column TYPES (a long 5 and a string "5" hash to
    different buckets — equality at the value level is not enough), and
    the library's bucket function on both sides.  Tables with a
    different layout need ``rebucket`` first, or a plain Spark join.

    ``cdc`` controls CDC sides (both ``op`` and ``lsn`` present — the
    shared ``is_cdc_schema`` rule): ``"live"`` (default) joins the LIVE
    STATE — tombstone rows (``op='d'``) are filtered inside the kernel,
    the same default view ``read_state`` and the ``lookup`` CLI answer.
    The LWW MERGE already stores at most one row per key (the write path
    collapses versions — ``lake/merge.py``), so the filter alone yields
    the live state on any merge-maintained table; a CDC-schema table fed
    by plain ``append`` (a raw event log) still holds every version and
    needs ``cdc="raw"``, which joins storage rows as stored.  Non-CDC
    tables are unaffected by the flag.

    ``left_where`` / ``right_where`` push inclusive range predicates
    (column -> (lo, hi), either bound None — ``read(where=)``'s
    contract) into the join: files whose manifest [min, max] bounds
    cannot intersect are never opened (``stats_cols`` skipping), and the
    exact residual filter runs inside the Arrow kernel BEFORE the join.
    That pre-join placement is the SQL ON-clause semantics — for a LEFT
    join, ``right_where`` narrows which right rows can match while every
    left row survives, which a post-join WHERE cannot express.  Joining
    one day's / one LSN-span's slice of two co-bucketed tables therefore
    reads O(matching files) of each and shuffles nothing.  Unknown
    predicate columns raise (a silently ignored filter would return
    wrong rows, unlike ``read`` where the residual covers it).  Bounds
    compare as ``read`` compares them (``LakeTable.plan``'s stored
    form): a datetime bound on a ``timestamp_ntz`` column is its
    session-zone wall clock, on a ``date`` column the exact date; when
    Python cannot resolve ``spark.sql.session.timeZone``, such a bound
    raises ValueError.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if cdc not in ("live", "raw"):
        raise ValueError(f"cdc must be 'live' or 'raw', got {cdc!r}")
    lsnap = left.snapshot(left_version) if left_version is not None else left.current()
    rsnap = (
        right.snapshot(right_version) if right_version is not None else right.current()
    )
    left.check_bucket_fn(lsnap)
    right.check_bucket_fn(rsnap)
    if lsnap.key_cols != rsnap.key_cols:
        raise ValueError(
            f"key_cols differ (order matters to the bucket hash): "
            f"{lsnap.key_cols} vs {rsnap.key_cols}"
        )
    if lsnap.n_buckets != rsnap.n_buckets:
        raise ValueError(
            f"n_buckets differ: {lsnap.n_buckets} vs {rsnap.n_buckets} — "
            "rebucket one side or use a plain join"
        )
    keys = list(lsnap.key_cols)
    ltypes = {f.name: f.dataType for f in lsnap.schema.fields}
    rtypes = {f.name: f.dataType for f in rsnap.schema.fields}
    for k in keys:
        if ltypes[k] != rtypes[k]:
            raise ValueError(
                f"key column {k!r} types differ ({ltypes[k].simpleString()} "
                f"vs {rtypes[k].simpleString()}): same values hash to "
                "different buckets under different types"
            )
    l_live = cdc == "live" and is_cdc_schema(lsnap.schema)
    r_live = cdc == "live" and is_cdc_schema(rsnap.schema)

    lcols = (
        list(left_columns)
        if left_columns is not None
        else [f.name for f in lsnap.schema.fields if f.name not in keys]
    )
    rcols = (
        list(right_columns)
        if right_columns is not None
        else [f.name for f in rsnap.schema.fields if f.name not in keys]
    )
    for c in lcols:
        if c not in ltypes or c in keys:
            raise ValueError(f"left_columns: {c!r} is not a left payload column")
    for c in rcols:
        if c not in rtypes or c in keys:
            raise ValueError(f"right_columns: {c!r} is not a right payload column")
    overlap = set(lcols) & set(rcols)
    if overlap:
        raise ValueError(
            f"payload columns appear on both sides: {sorted(overlap)} — "
            "select/rename via left_columns/right_columns"
        )

    # inner joins are symmetric, and manifest row counts are free driver
    # metadata — make the SMALLER side the resident build side
    # automatically (a left join fixes the roles: left must stream).
    # The recursed call runs with the roles swapped; only the output
    # column order needs restoring.
    if how == "inner" and sum(f.rows for f in lsnap.files) < sum(
        f.rows for f in rsnap.files
    ):
        swapped = colocated_join(
            right, left, how="inner",
            left_columns=rcols, right_columns=lcols,
            left_version=right_version, right_version=left_version,
            cdc=cdc, left_where=right_where, right_where=left_where,
            batch_rows=batch_rows,
        )
        return swapped.select(*keys, *lcols, *rcols)

    out_schema = T.StructType(
        [T.StructField(k, ltypes[k], True) for k in keys]
        + [T.StructField(c, ltypes[c], True) for c in lcols]
        + [T.StructField(c, rtypes[c], True) for c in rcols]
    )

    def plan_side(table, snap, where, side):
        """The side's surviving files per bucket and its kernel filters
        ``[(col, lo, hi)]``, from ``table.plan``: its ``bounds`` are the
        stored-form values its residual compares (an NTZ bound a
        session-zone wall clock), so the kernel keeps the rows ``read``
        keeps."""
        unknown = sorted(set(where or ()) - set(snap.schema.fieldNames()))
        if unknown:
            raise ValueError(f"{side}_where: not in schema: {unknown}")
        p = table.plan(version=snap.version, where=where)
        for c, (lo, hi) in p.bounds.items():
            if isinstance(lo, _Unzoned) or isinstance(hi, _Unzoned):
                raise ValueError(
                    f"{side}_where: a datetime bound on {c!r} needs the session "
                    "time zone, which Python cannot resolve: "
                    f"{table.spark.conf.get('spark.sql.session.timeZone')!r}"
                )
        by_bucket: dict[int, list[str]] = {}
        for f in p.files:
            by_bucket.setdefault(f.bucket, []).append(os.path.join(table.root, f.path))
        return by_bucket, [(c, lo, hi) for c, (lo, hi) in p.bounds.items()]

    l_files, l_filters = plan_side(left, lsnap, left_where, "left")
    r_files, r_filters = plan_side(right, rsnap, right_where, "right")

    # columns a side must SCAN beyond keys+payload: the live-state op
    # filter and any predicate column not selected as payload; none of
    # them reach the output
    def scan_cols(payload, live, filters):
        extra = [OP_COL] if live and OP_COL not in keys + payload else []
        for c, _, _ in filters:
            if c not in keys + payload + extra:
                extra.append(c)
        return keys + payload + extra

    l_scan = scan_cols(lcols, l_live, l_filters)
    r_scan = scan_cols(rcols, r_live, r_filters)
    l_read = T.StructType([T.StructField(c, ltypes[c], True) for c in l_scan])
    r_read = T.StructType([T.StructField(c, rtypes[c], True) for c in r_scan])

    # metadata only: per-bucket absolute file lists from both plans (the
    # kernel applies the exact residual)
    rows = []
    for b in range(lsnap.n_buckets):
        lf, rf = l_files.get(b, []), r_files.get(b, [])
        if not lf:
            continue  # no left rows: contributes nothing to inner OR left
        if not rf and how == "inner":
            continue
        rows.append((b, json.dumps(lf), json.dumps(rf)))
    spark = left.spark
    if not rows:
        return _local_frame(spark, out_schema)

    # one RDD slice per surviving bucket => one mapInArrow task per bucket,
    # and the plan stays Exchange-free (ExistingRDD -> MapInArrow)
    src = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=len(rows)),
        "bucket int, lf string, rf string",
    )
    kernel = _make_kernel(
        l_read, r_read, keys, lcols, rcols, how, batch_rows, l_live, r_live,
        l_filters, r_filters,
    )
    return src.mapInArrow(kernel, out_schema)


def _make_kernel(
    l_read: T.StructType,
    r_read: T.StructType,
    keys: list[str],
    lcols: list[str],
    rcols: list[str],
    how: str,
    batch_rows: int,
    l_live: bool,
    r_live: bool,
    l_filters: list,
    r_filters: list,
):
    """Build the per-bucket Arrow join kernel.  Captures only plain
    picklable values (Spark StructTypes, name lists); every pyarrow
    object is constructed inside the task."""
    join_type = "inner" if how == "inner" else "left outer"

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_type

        from ton_etl_spark.lake.table import scan as scan_files

        def scan(paths: list[str], st: T.StructType, live: bool, filters: list):
            """One dataset scan of a side's bucket files under the side's
            schema (``lake.table.scan``), with the residual filter applied
            pre-join (ON-clause placement): null comparisons drop the row,
            matching the Spark residual in LakeTable.read."""
            # the ONE live-state rule (cdc/apply.live_state): op != 'd'
            # keeps every live row (op is never NULL in a CDC frame)
            conds = [ds.field(OP_COL) != "d"] if live else []
            for col, lo, hi in filters:
                typ = to_arrow_type(st[col].dataType)
                if lo is not None:
                    conds.append(ds.field(col) >= pa.scalar(lo, typ))
                if hi is not None:
                    conds.append(ds.field(col) <= pa.scalar(hi, typ))
            return scan_files(
                paths, st, functools.reduce(operator.and_, conds) if conds else None,
                batch_rows,
            )

        def gather(table: "pa.Table", cols: list[str], idx) -> list:
            # take with null indices yields typed NULLs — exactly the
            # left-outer contract for unmatched right payloads
            return [pc.take(table.column(c), idx) for c in cols]

        def join_chunk(lt: "pa.Table", rslim: "pa.Table", rt: "pa.Table"):
            """Join one probe chunk against the resident build side via
            the surrogate-index join (Arrow's hash join rejects nested
            payload columns): join slim (keys + index) tables, then
            gather payloads by take."""
            li = pa.array(range(lt.num_rows), pa.int64())
            lslim = lt.select(keys).append_column("__li", li)
            j = lslim.join(
                rslim, keys=keys, join_type=join_type,
                left_suffix="_l", right_suffix="_r",
            )
            if j.num_rows == 0:
                return
            jli, jri = j.column("__li"), j.column("__ri")
            out = pa.table(
                [pc.take(lt.column(k), jli) for k in keys]
                + gather(lt, lcols, jli)
                + gather(rt, rcols, jri),
                names=keys + lcols + rcols,
            )
            yield from out.to_batches(max_chunksize=batch_rows)

        for rb in batches:
            for row in rb.to_pylist():
                rt = scan(json.loads(row["rf"]), r_read, r_live, r_filters).to_table()
                if rt.num_rows == 0 and join_type == "inner":
                    continue
                ri = pa.array(range(rt.num_rows), pa.int64())
                rslim = rt.select(keys).append_column("__ri", ri)
                # each probe chunk joins independently: every left row
                # lives in exactly one chunk and sees the whole build side
                probe = scan(json.loads(row["lf"]), l_read, l_live, l_filters)
                for batch in probe.to_batches():
                    if batch.num_rows:
                        yield from join_chunk(pa.Table.from_batches([batch]), rslim, rt)

    return kernel
