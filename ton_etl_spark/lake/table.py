"""LakeTable — a minimal, from-scratch versioned Parquet table format.

Plays the role Iceberg/Postgres play in the reference pipeline
(ton-etl keeps keyed state in Postgres with ``ON CONFLICT`` upserts,
``parser/db.py:258-330``, and append-only S3 Avro/Parquet partitions,
``datalake/main.py:147-186``).  No Iceberg jars are available in this
environment, so the table format itself is built here on public Spark +
filesystem APIs.  Design goals, in order:

1. **Atomic, versioned commits** — a commit is (a) new data files under a
   fresh commit directory, then (b) a new immutable snapshot JSON, then
   (c) an atomic ``os.replace`` of the ``_current`` pointer.  Readers only
   ever see the file list of a published snapshot, so a crashed writer
   leaves garbage data files but never a torn table (the same
   write-files-then-commit ordering the reference uses: upload to S3,
   *then* Kafka commit, ``datalake/main.py:147-186``).
2. **Idempotent re-application** — every commit carries an application-level
   ``commit_key`` (e.g. the streaming ``(checkpoint_epoch)``).  A commit
   whose key was already applied is skipped, which is what makes
   ``foreachBatch`` retries exactly-once (reference analog:
   ``ON CONFLICT DO NOTHING`` + Athena ``EXCEPT`` dedup,
   ``parser/db.py:279-283``, ``datalake_daily_sync.py:301-328``).
   The applied-key record is BOUNDED, not O(history): keys in the RESERVED
   streaming namespace (``WATERMARK_PREFIXES``, i.e. ``epoch=N`` where
   Spark guarantees monotone batch ids) are covered by a high-watermark
   integer, and the last ``RECENT_KEYS_MAX`` keys are kept verbatim for
   everything else.  Watermark coverage is opt-in by prefix precisely so
   an ad-hoc numeric key (``backfill=3`` after ``backfill=7``) can never
   be silently swallowed; reserved-prefix skips are logged.
   Upgrade note (pre-release): tables written before watermark coverage
   became opt-in may carry ``commit_watermarks`` under other prefixes;
   those stored watermarks are now ignored, so a replay of such an old key
   is deduplicated only within the recent-keys window.  No such deployed
   tables exist; if one ever does, migrate its non-``epoch`` watermarks
   into ``recent_commit_keys`` before upgrading.
3. **Hash-bucketed layout** — every data file belongs to one bucket of
   ``pmod(murmur3(key), n_buckets)`` (Spark's ``F.hash``; see
   ``bucket_of``).  The bucket function is RECORDED in the snapshot
   (``properties['bucket_fn']``) and validated on every bucket-dependent
   operation — a reader/writer built against a different hash fails loudly
   instead of silently mis-pruning.  MERGE reads and rewrites only the
   buckets touched by the incoming batch (bucket pruning), so a small
   change batch against a 100 TB table rewrites a bounded slice, not the
   world.  At 1000-executor scale ``n_buckets`` is sized so one bucket is
   a few GB (reference analog: ``bucketed_by address ×10``,
   ``datalake/metadata_snapshot.py:88-89``).
   **Per-bucket manifests** keep commit metadata O(touched buckets): the
   snapshot JSON stores only a bucket→manifest-file pointer map; the file
   lists live in immutable per-bucket manifest JSONs (Iceberg-style).  A
   commit writes new manifests for the buckets it touched and re-points
   the rest — at 10^4 epochs × 10^5 files the snapshot stays a few KB
   instead of growing quadratically in driver I/O.
4. **Additive schema evolution** — the snapshot stores the table schema;
   a commit may widen it with new nullable columns.  Readers pass the
   *current* schema to the Parquet scan, so old files yield NULL for
   late-added columns (reference analog: ``ALTER TABLE ... ADD COLUMN IF
   NOT EXISTS``, ``parser/createdb.sql:93,114-121``, and Glue auto-create,
   ``datalake_daily_sync.py:268-296``).

5. **A change feed per commit** — every snapshot records the rows its
   commit inserted and deleted (``Snapshot.feed``, Delta's Change Data
   Feed role; reference analog: each parser upsert is itself re-published
   as a ``ton.parsed.*`` CDC topic).  Feed files are written by the same
   write as the commit's data files and registered in the same
   published snapshot, so there is no second commit point; they never
   appear in ``Snapshot.files``, reads or lookups.  ``changes(v0, v1)``
   reads the feeds of ``(v0, v1]`` instead of diffing two snapshots.

A commit's files come from one of two file writers, picked by what the
caller holds: a DataFrame (a plan) is written by Spark, a
``pyarrow.Table`` (rows already on the driver) by ``pyarrow.parquet``
from the driver, in the same layout (``LakeTable._write_commit_files``).

Concurrency contract: every data commit writes its files, then goes
through ONE commit step, ``LakeTable._commit``, whose ``_publish`` is a
compare-and-swap on the ``_current`` pointer.  A writer that loses the
race rebases metadata-only under one rule (an append always; a bucket
replacement only if the interleaved commits left its buckets, the schema
and the layout unchanged) or gets ``CommitConflictError``.  Readers are
lock-free.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import logging
import operator
import os
import re
import shutil
import uuid
from collections.abc import Iterable
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pyarrow as pa
    import pyarrow.dataset as ds

_LOG = logging.getLogger(__name__)

META_DIR = "_meta"
MANIFEST_DIR = os.path.join(META_DIR, "manifests")
DATA_DIR = "data"
CURRENT_PTR = "_current"
BUCKET_COL = "__bucket"
# ``changes()``' output column: 'insert' or 'delete'
CHANGE_COL = "_change_type"
# Tag column of a frame written with ``overwrite_buckets(feed=True)``: NULL
# marks a row of the new bucket contents, INSERT/DELETE a change-feed row.
# Written as a partition directory (``__change=row|insert|delete``).
FEED_COL = "__change"
# the writer's own columns: a data column of either name would be read as
# the bucket or the feed tag, so no table schema may hold one
_RESERVED = (BUCKET_COL, FEED_COL)
INSERT, DELETE = "insert", "delete"
_TABLE_ROW = "row"

# bounded idempotency record (see module docstring §2)
RECENT_KEYS_MAX = 1024
# metadata-only rebases a commit attempts after losing the CAS before it
# raises CommitConflictError (see ``LakeTable._commit``)
MAX_REBASES = 8
_NUMERIC_KEY = re.compile(r"(.*)=(\d+)\Z")

# Watermark coverage is OPT-IN per prefix: only keys in this reserved
# streaming namespace ('epoch=<batch_id>', issued by cdc/apply and
# cdc/stream, where Spark guarantees monotone batch ids) are covered by
# the high-watermark integer.  Any other numeric-suffixed key (an ad-hoc
# 'backfill=3' issued after 'backfill=7', or a second writer with a fresh
# checkpoint) is deduplicated within the recent-keys window ONLY — it can
# never be silently swallowed by a watermark whose monotonicity contract
# it does not honor.
WATERMARK_PREFIXES = frozenset({"epoch"})

# recorded in Snapshot.properties and validated on every bucket-dependent
# operation: changing the hash silently mis-prunes existing tables
BUCKET_FN_ID = "murmur3_v1"


class CommitConflictError(Exception):
    """Another writer published a snapshot after this commit read its base
    version.  The losing commit's data files are unreferenced orphans
    (``expire_snapshots`` collects them); the table itself is untouched.
    Retry the whole operation — it must re-read the NEW current state, not
    just re-publish (the merge's winners were computed against stale
    data)."""


def _numeric_epoch(commit_key: str) -> tuple[str, int] | None:
    """('epoch', 42) for 'epoch=42'; None for non-numeric keys.  The PREFIX
    is part of the watermark identity: 'compact=3' must never be considered
    covered because stream epochs reached 'epoch=99'."""
    m = _NUMERIC_KEY.match(commit_key)
    return (m.group(1), int(m.group(2))) if m else None


def bucket_of(key_cols: list[str], n_buckets: int):
    """Bucket id of a key — ``pmod(murmur3(key), n)`` (``F.hash`` is
    murmur3 with seed 42), the one bucket function every writer, the
    lookup probe and the co-located join use.  A frame shuffled on this
    column holds whole buckets in each partition, so the MERGE ranks and
    writes its rows with no further exchange (``lake/merge.py``)."""
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


@dataclass
class DataFile:
    path: str  # relative to table root
    bucket: int
    rows: int
    # per-column [min, max] bounds harvested from the Parquet footer at
    # commit time (Iceberg's file-level column metrics).  None/absent column
    # => no bounds known => the file can never be skipped on that column.
    stats: dict[str, list[Any]] | None = None

    def to_json(self) -> dict[str, Any]:
        d: dict[str, Any] = {"path": self.path, "bucket": self.bucket, "rows": self.rows}
        if self.stats:
            d["stats"] = self.stats
        return d

    @staticmethod
    def from_json(d: dict[str, Any]) -> "DataFile":
        return DataFile(
            path=d["path"], bucket=int(d["bucket"]), rows=int(d["rows"]),
            stats=d.get("stats"),
        )


@dataclass
class ChangeFile:
    """One file of a commit's change feed: rows the commit inserted or
    deleted (``change``), stored in the table schema of the commit's
    snapshot.  An insert may reference one of the commit's own data files
    (an append's files, a merge bucket that was empty) instead of a copy."""

    path: str  # relative to table root
    change: str  # INSERT or DELETE

    def to_json(self) -> dict[str, Any]:
        return {"path": self.path, "change": self.change}

    @staticmethod
    def from_json(d: dict[str, Any]) -> "ChangeFile":
        return ChangeFile(path=d["path"], change=d["change"])


def _stats_encode(v: Any) -> Any:
    """JSON-encodable, ORDER-PRESERVING encoding for footer bounds and
    predicate values — both sides of every skip comparison go through this,
    so the only requirement is that the encoding preserve the column's
    order.  int/float/bool/str are ordered as-is; datetime/date use
    ISO-8601 (lexicographic == chronological for a fixed format — pyarrow
    returns naive UTC for Spark-written timestamps).  Anything else
    (binary, nested, decimal) returns None => no stats recorded => never
    skipped."""
    if isinstance(v, bool) or v is None:
        return None  # bool bounds are useless; NULL has no order
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        # canonicalize to NAIVE UTC: a tz-aware predicate against a naive
        # stored bound (or vice versa) would compare the '+00:00' suffix
        # lexicographically and mis-order exact-boundary values — which on
        # the skip side means silently dropping a matching file
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return None


def _stats_encodable(dt: "T.DataType") -> bool:
    """Whether ``_stats_encode`` can ever produce bounds for values of this
    Spark type — the TYPE-level twin of the value-level encoder.  Callers
    that reason about missing bounds (e.g. ``zorder_needed``'s coverage
    rule) must not treat a column that can NEVER carry bounds (boolean,
    decimal, binary, nested) as 'needs a rewrite to record them' — the
    rewrite would record nothing and the check would fire forever."""
    return isinstance(
        dt,
        (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.StringType,
            T.TimestampType, T.TimestampNTZType, T.DateType,
        ),
    )


def _file_may_match_in(f: DataFile, enc_in: dict[str, list]) -> bool:
    """Conservative in-list skip test: False only when the file's [min,
    max] bounds prove NO probe value can be present.  ``enc_in`` values
    are pre-encoded AND sorted (once per read), so each file test is a
    bisect, not a scan — a 10^4-value probe list over a 10^5-file snapshot
    stays O(files × log values) driver work.  A probe value that failed to
    encode keeps the column unprunable (empty list sentinel)."""
    import bisect

    if not f.stats:
        return True
    for col, vals in enc_in.items():
        if not vals:  # unencodable probe value present: cannot prune
            continue
        bounds = f.stats.get(col)
        if not bounds:
            continue
        fmin, fmax = bounds
        try:
            i = bisect.bisect_left(vals, fmin)
            if i >= len(vals) or vals[i] > fmax:
                return False
        except TypeError:
            continue  # mixed encodings: unknowable, keep the file
    return True


_TEMPORAL = (T.TimestampType, T.TimestampNTZType, T.DateType)
# the column types whose stored form of a datetime is session-zone local
_ZONED = (T.TimestampNTZType, T.DateType)


def _conform_temporal(v: Any, dt: T.DataType) -> Any:
    """A predicate value for a ``timestamp``/``timestamp_ntz`` column (a
    datetime) or a ``date`` column (a date, or a datetime, which ``plan``
    turns into one): an ISO-8601 string is parsed, a value of that kind
    is kept and anything else raises ValueError.  Epoch numbers are
    refused: guessing the unit (s/ms/us)
    risks a silent wrong match, and passing one raw is an ANSI analysis
    error."""
    want = _dt.date if isinstance(dt, T.DateType) else _dt.datetime
    if isinstance(v, str):
        return want.fromisoformat(v)
    if isinstance(v, want):
        return v
    raise ValueError(v)


def _conform_where_in(
    schema: T.StructType, where_in: dict[str, list]
) -> dict[str, list]:
    """Cast ``where_in`` probe values to their column's Spark type BEFORE
    bucket hashing, manifest encoding, and the residual filter — dropping
    values the type cannot represent (they can equal no stored row).

    One conversion, three consumers.  The alternative — letting Spark
    coerce inside ``isin`` — is unsound twice over: under ANSI mode (the
    Spark 4 default) a string column probed with an int CASTS THE COLUMN
    and throws CAST_INVALID_INPUT on the first non-numeric row, and the
    coerced comparison ('07' = 7) would disagree with the bucket hash of
    the stringified probe, silently missing rows in pruned reads.  After
    conformance and the plan's conversion to the stored form
    (``_stored``: a ``timestamp_ntz`` probe becomes a wall clock and its
    literal an NTZ one, a datetime probe on a ``date`` column a date)
    every comparison is same-type: no column cast, no ANSI crash, hash
    and filter agree.  NULLs are dropped too: they never satisfy
    ``isin``, so keeping one would only turn off the column's pruning.
    Unknown columns pass through so the filter raises Spark's own
    unresolved-column error."""
    from decimal import Context, Decimal, InvalidOperation

    names = set(schema.fieldNames())
    out: dict[str, list] = {}
    for col, vals in where_in.items():
        if col not in names:
            out[col] = list(vals)
            continue
        dt = schema[col].dataType
        conv: list = []
        for v in vals:
            if v is None:
                continue
            try:
                if isinstance(
                    dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
                ):
                    if isinstance(v, bool):
                        continue
                    if isinstance(v, float) and not v.is_integer():
                        continue  # 7.5 can equal no integral value
                    if isinstance(v, Decimal) and v % 1 != 0:
                        continue  # int() would TRUNCATE Decimal('7.5') to 7
                    # tinyint..bigint hold 8 << rank bits
                    half = 1 << ((8 << _INT_RANK[dt.simpleString()]) - 1)
                    if -half <= int(v) < half:
                        conv.append(int(v))
                elif isinstance(dt, (T.FloatType, T.DoubleType)):
                    if isinstance(v, bool):
                        continue
                    conv.append(float(v))
                elif isinstance(dt, T.StringType):
                    conv.append(v if isinstance(v, str) else str(v))
                elif isinstance(dt, T.DecimalType):
                    d = v if isinstance(v, Decimal) else Decimal(str(v))
                    q = d.quantize(Decimal(1).scaleb(-dt.scale), context=Context(prec=80))
                    if q == d and len(q.as_tuple().digits) <= dt.precision:
                        conv.append(d)  # else: more digits than the type holds
                elif isinstance(dt, _TEMPORAL):
                    conv.append(_conform_temporal(v, dt))
                elif isinstance(dt, T.BooleanType):
                    if not isinstance(v, bool):
                        continue
                    conv.append(v)
                else:
                    conv.append(v)  # binary/nested: as-given
            except (TypeError, ValueError, InvalidOperation):
                continue  # unrepresentable in the column type
        out[col] = conv
    return out


def _conform_where_bounds(
    schema: T.StructType, where: dict[str, tuple]
) -> dict[str, tuple] | None:
    """Cast ``where`` range bounds to their column's Spark type, for the
    same two reasons as ``_conform_where_in``: under ANSI a mistyped bound
    CASTS THE COLUMN (a string column with an int bound throws
    CAST_INVALID_INPUT on the first non-numeric row), and a raw-typed
    bound compares as mixed-type against the manifest stats, silently
    disabling file skipping.  Range semantics differ from point probes:

    - a bound the type cannot represent RAISES ValueError (dropping it
      would silently widen the range — the opposite of a probe value,
      which can simply match nothing);
    - a fractional bound on an integral column rounds INWARD (lo: ceil,
      hi: floor), which is exactly equivalent;
    - an integral bound beyond its column's range is exact too: a lower
      bound above the type's max or an upper bound below its min matches
      no row (the result is None); one on the other side becomes the
      type's min or max, which every non-NULL value satisfies;
    - ISO-8601 strings conform to date/timestamp columns — the only form
      a JSON surface like ``maintain --delete-where`` can express.

    NULL bounds (open-ended) and unknown columns pass through."""
    import math
    from decimal import Decimal, InvalidOperation

    names = set(schema.fieldNames())
    empty = object()  # a bound no value of the column satisfies

    def one(col, v, is_lo: bool):
        if v is None or col not in names:
            return v
        dt = schema[col].dataType
        try:
            if isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                if isinstance(v, bool):
                    raise ValueError
                if isinstance(v, str):
                    v = float(v) if ("." in v or "e" in v.lower()) else int(v)
                if not isinstance(v, int):
                    v = float(v)  # Decimal and friends round inward too
                    if not math.isinf(v):
                        v = math.ceil(v) if is_lo else math.floor(v)
                half = 1 << ((8 << _INT_RANK[dt.simpleString()]) - 1)
                if is_lo == (v > 0) and not -half <= v < half:
                    return empty
                return min(max(v, -half), half - 1)
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                if isinstance(v, bool):
                    raise ValueError
                return float(v)
            if isinstance(dt, T.StringType):
                if not isinstance(v, str):
                    # int 7 -> "7" would silently switch the caller from
                    # numeric to lexicographic order; make them choose
                    raise ValueError
                return v
            if isinstance(dt, T.DecimalType):
                return v if isinstance(v, Decimal) else Decimal(str(v))
            if isinstance(dt, _TEMPORAL):
                return _conform_temporal(v, dt)
            return v
        except (TypeError, ValueError, InvalidOperation):
            raise ValueError(
                f"where bound {v!r} is not representable in column "
                f"{col!r} of type {dt.simpleString()}"
            ) from None

    out = {col: (one(col, lo, True), one(col, hi, False)) for col, (lo, hi) in where.items()}
    return None if any(v is empty for b in out.values() for v in b) else out


def _pin_naive(v: Any) -> Any:
    """Make a NAIVE datetime predicate value aware in the zone the residual
    filter gives it.  PySpark turns a naive ``datetime`` literal into an
    instant in the Python process's local zone (``F.lit`` and
    ``createDataFrame`` both go through ``time.mktime``), NOT in
    ``spark.sql.session.timeZone``; ``datetime.astimezone()`` applies the
    same rule.  The stored bounds are UTC, so the skip side must pin the
    value before ``_stats_encode`` canonicalizes it — comparing the raw
    wall clock against UTC bounds would skip matching files whenever the
    local zone is not UTC.  Other values pass through."""
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return v.astimezone()
    return v


# java.time.ZoneId.SHORT_IDS, which Spark applies to the session time zone
# and the IANA database behind ``zoneinfo`` mostly lacks
_SHORT_IDS = {
    "ACT": "Australia/Darwin", "AET": "Australia/Sydney",
    "AGT": "America/Argentina/Buenos_Aires", "ART": "Africa/Cairo",
    "AST": "America/Anchorage", "BET": "America/Sao_Paulo", "BST": "Asia/Dhaka",
    "CAT": "Africa/Harare", "CNT": "America/St_Johns", "CST": "America/Chicago",
    "CTT": "Asia/Shanghai", "EAT": "Africa/Addis_Ababa", "ECT": "Europe/Paris",
    "IET": "America/Indiana/Indianapolis", "IST": "Asia/Kolkata", "JST": "Asia/Tokyo",
    "MIT": "Pacific/Apia", "NET": "Asia/Yerevan", "NST": "Pacific/Auckland",
    "PLT": "Asia/Karachi", "PNT": "America/Phoenix", "PRT": "America/Puerto_Rico",
    "PST": "America/Los_Angeles", "SST": "Pacific/Guadalcanal",
    "VST": "Asia/Ho_Chi_Minh", "EST": "-05:00", "MST": "-07:00", "HST": "-10:00",
}


def _session_zone(zone_id: str):
    """``spark.sql.session.timeZone`` as a tzinfo, resolved as Spark
    resolves it: a short id (``_SHORT_IDS``), a fixed offset ('UTC',
    '+09:00', 'GMT-5') or a region; None when Python cannot resolve it."""
    from zoneinfo import ZoneInfo

    zone_id = _SHORT_IDS.get(zone_id, zone_id)
    m = re.fullmatch(r"(?:Z|UTC|GMT|UT)?([+-]\d{1,2})?(?::?(\d{2}))?", zone_id)
    if zone_id and m:
        off = _dt.timedelta(hours=abs(int(m.group(1) or 0)), minutes=int(m.group(2) or 0))
        return _dt.timezone(-off if "-" in zone_id else off)
    try:
        return ZoneInfo(zone_id)
    except (KeyError, ValueError, OSError):  # ZoneInfoNotFoundError: KeyError
        return None


@dataclass(frozen=True)
class _Unzoned:
    """A datetime predicate value on a ``timestamp_ntz`` or ``date`` column
    when ``_session_zone`` is None: it has no stored form, so it skips no
    file or bucket (``_stats_encode`` gives it no bound), the residual
    compares ``value`` by Spark's own rule, and the join kernel refuses it."""

    value: Any


def _stored(v: Any, dt: T.DataType | None, zone, lower: bool | None = None) -> Any:
    """The conformed predicate value ``v`` in the form a column of type
    ``dt`` stores: the one value the residual, the skip test, the bucket
    probe and ``ScanPlan.bounds`` all compare.  Only a datetime changes:

    - on ``timestamp``, the instant (``_pin_naive``);
    - on ``timestamp_ntz``, its wall clock in the session ``zone`` (DST
      fold and gap rows included: the stored wall clock decides);
    - on ``date``, the exact date: a range bound (``lower`` True/False)
      rounds inward to the dates whose session-zone midnight it admits,
      and a probe (``lower`` None) is the date of which it is exactly the
      midnight, or None (it can equal no date).

    An ``_Unzoned`` value when the zone is needed and unknown."""
    if not isinstance(v, _dt.datetime):
        return v
    inst = _pin_naive(v)
    if not isinstance(dt, _ZONED):
        return inst
    if zone is None:
        return _Unzoned(v)
    wall = inst.astimezone(zone).replace(tzinfo=None)
    if isinstance(dt, T.TimestampNTZType):
        return wall
    d, utc = wall.date(), _dt.timezone.utc
    if _dt.datetime.combine(d, _dt.time(), zone).astimezone(utc) == inst.astimezone(utc):
        return d
    if lower is None:
        return None
    return d + _dt.timedelta(days=1) if lower else d


def _literal(v: Any, dt: T.DataType | None) -> Any:
    """The residual's literal for the stored-form value ``v``: an NTZ wall
    clock as a ``timestamp_ntz`` literal (Spark folds the cast, so the
    column is compared uncast and the filter reaches Parquet), any other
    value as given (an ``_Unzoned`` one unwrapped)."""
    if isinstance(v, _Unzoned):
        return v.value
    if isinstance(dt, T.TimestampNTZType):
        return F.lit(v.isoformat()).cast("timestamp_ntz")
    return v


def _file_may_match(f: DataFile, enc_where: dict[str, tuple[Any, Any]]) -> bool:
    """Conservative skip test: False only when a file's stored [min, max]
    bounds PROVE no row can satisfy every range.  Missing stats (old
    manifests, un-tracked columns, un-encodable predicate values) keep the
    file — skipping is an optimization, never a filter.  ``enc_where``
    values are PRE-ENCODED via ``_stats_encode`` (done once per read, not
    once per file — a snapshot can list 10^5 files)."""
    if not f.stats:
        return True
    for col, (plo, phi) in enc_where.items():
        bounds = f.stats.get(col)
        if not bounds:
            continue
        fmin, fmax = bounds
        # mixed encodings (e.g. int bound vs str predicate) would raise on
        # compare — treat as unknowable, keep the file
        try:
            if plo is not None and fmax < plo:
                return False
            if phi is not None and fmin > phi:
                return False
        except TypeError:
            continue
    return True


@dataclass
class Snapshot:
    version: int
    schema_json: str
    n_buckets: int
    key_cols: list[str]
    # bucket -> manifest file path (relative to table root); the per-bucket
    # file lists live in those immutable manifests, not here
    manifests: dict[int, str] = field(default_factory=dict)
    # bounded idempotency record: per-PREFIX high watermarks over numeric
    # '<prefix>=N' keys plus the most recent keys verbatim (see module
    # docstring §2)
    commit_watermarks: dict[str, int] = field(default_factory=dict)
    recent_commit_keys: list[str] = field(default_factory=list)
    properties: dict[str, str] = field(default_factory=dict)
    # the change feed of the commit that published this version; [] for a
    # commit that changed no row, None for a snapshot written before feeds
    feed: list[ChangeFile] | None = field(default_factory=list)
    # set by LakeTable when loading, so .files can resolve manifests
    _root: str | None = field(default=None, repr=False, compare=False)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.schema_json))

    def has_commit_key(self, commit_key: str) -> bool:
        if commit_key in self.recent_commit_keys:
            return True
        pn = _numeric_epoch(commit_key)
        if pn is None or pn[0] not in WATERMARK_PREFIXES:
            return False
        wm = self.commit_watermarks.get(pn[0], -1)
        if pn[1] <= wm:
            # visible, not silent: for a checkpoint replay this is the
            # expected exactly-once skip; for an out-of-order writer it is
            # the first symptom of a broken monotonicity contract.
            _LOG.info(
                "commit key %r already covered by %r watermark %d — skipping",
                commit_key,
                pn[0],
                wm,
            )
            return True
        return False

    def advanced_keys(self, commit_key: str | None) -> tuple[dict[str, int], list[str]]:
        """(watermarks, recent keys) after recording ``commit_key``."""
        wms = dict(self.commit_watermarks)
        if commit_key is None:
            return wms, list(self.recent_commit_keys)
        pn = _numeric_epoch(commit_key)
        if pn is not None and pn[0] in WATERMARK_PREFIXES:
            wms[pn[0]] = max(wms.get(pn[0], -1), pn[1])
        recent = (self.recent_commit_keys + [commit_key])[-RECENT_KEYS_MAX:]
        return wms, recent

    def files_for(self, buckets: list[int] | None = None) -> list[DataFile]:
        """Resolve the data-file list from the per-bucket manifests (only
        the manifests of ``buckets`` are opened when given)."""
        if self._root is None:
            raise ValueError("snapshot not bound to a table root")
        sel = self.manifests
        if buckets is not None:
            bset = set(buckets)
            sel = {b: p for b, p in sel.items() if b in bset}
        ordered = [sel[b] for b in sorted(sel)]
        if len(ordered) <= 4:
            out: list[DataFile] = []
            for rel in ordered:
                with open(os.path.join(self._root, rel)) as fh:
                    out.extend(DataFile.from_json(f) for f in json.load(fh))
            return out
        # many buckets: open manifests concurrently — serial ~ms opens add a
        # fixed driver cost per read that hurts scaling (same Amdahl note as
        # the commit-time footer stats)
        from concurrent.futures import ThreadPoolExecutor

        def _load(rel: str) -> list[DataFile]:
            with open(os.path.join(self._root, rel)) as fh:
                return [DataFile.from_json(f) for f in json.load(fh)]

        with ThreadPoolExecutor(max_workers=16) as pool:
            parts = list(pool.map(_load, ordered))
        return [f for part in parts for f in part]

    @property
    def files(self) -> list[DataFile]:
        return self.files_for()

    def to_json(self) -> dict[str, Any]:
        return {
            "version": self.version,
            "schema_json": self.schema_json,
            "n_buckets": self.n_buckets,
            "key_cols": self.key_cols,
            "manifests": {str(b): p for b, p in self.manifests.items()},
            "commit_watermarks": self.commit_watermarks,
            "recent_commit_keys": self.recent_commit_keys,
            "properties": self.properties,
            "feed": [c.to_json() for c in self.feed] if self.feed is not None else None,
        }

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        if "manifests" not in d:
            raise ValueError(
                "unsupported snapshot layout (pre-manifest format with a "
                "'files' list); this engine reads the per-bucket-manifest "
                "format — rewrite the table or migrate its metadata"
            )
        return Snapshot(
            version=int(d["version"]),
            schema_json=d["schema_json"],
            n_buckets=int(d["n_buckets"]),
            key_cols=list(d["key_cols"]),
            manifests={int(b): p for b, p in d["manifests"].items()},
            commit_watermarks={k: int(v) for k, v in d["commit_watermarks"].items()},
            recent_commit_keys=list(d["recent_commit_keys"]),
            properties=dict(d.get("properties", {})),
            feed=(
                [ChangeFile.from_json(c) for c in d["feed"]]
                if d.get("feed") is not None else None
            ),
        )


@dataclass
class ScanPlan:
    """What a predicate-scoped operation reads (``LakeTable.plan``): the
    snapshot, the data files that survive bucket and stats skipping, and
    the exact ``residual`` filter (None when there is no predicate).
    Skipping is an optimization and the residual is the truth: a consumer
    that filters ``files`` by ``residual`` gets the same rows however many
    files were skipped.  ``bounds`` are the ``where`` ranges in the one
    stored form (``_stored``) that the residual, the skip test and an
    evaluator outside Spark (the co-located join's Arrow kernel) all
    compare: a ``timestamp`` bound is its instant, a ``timestamp_ntz``
    bound its session-zone wall clock and a datetime bound on a ``date``
    column the exact date.  A bound with no stored form (``_Unzoned``:
    the session zone is unknown) is only the residual's to evaluate."""

    snapshot: Snapshot
    files: list[DataFile]
    residual: Column | None
    bounds: dict[str, tuple[Any, Any]]


# Safe lossless promotion chains (the Iceberg v2 `promote` set, which is
# also exactly what Spark 4's Parquet readers upcast in place — verified:
# int32 files read under a bigint/double/array<bigint> schema return the
# original values, so widening needs NO file rewrite).
_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def _widen_type(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """The narrower-to-wider merge of two types, or None when the pair is
    not on a lossless promotion chain.  Arrays widen element-wise (a
    per-field promotion, same as Iceberg's nested-field promotion)."""
    sa, sb = a.simpleString(), b.simpleString()
    if sa == sb:
        return a
    if sa in _INT_RANK and sb in _INT_RANK:
        return a if _INT_RANK[sa] >= _INT_RANK[sb] else b
    if {sa, sb} == {"float", "double"}:
        return T.DoubleType()
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType) and a.scale == b.scale:
        return a if a.precision >= b.precision else b
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        el = _widen_type(a.elementType, b.elementType)
        if el is not None:
            # nullable elements: Parquet reads relax element nullability,
            # and Spark refuses to cast array<int> (nullable elements) to
            # a non-null array<bigint>, so narrow files could not be read up
            return T.ArrayType(el, True)
    return None


def _merge_schemas(
    base: T.StructType, incoming: T.StructType, allow_widening: bool = False
) -> T.StructType:
    """Additive schema union: base columns keep position; new incoming
    columns are appended as nullable.  Type changes are rejected by
    default (the reference only ever evolves additively); with
    ``allow_widening`` (the table's ``type_widening`` property, Iceberg's
    ``promote``) a column may move UP a lossless chain — tinyint→…→bigint,
    float→double, decimal precision growth, arrays element-wise — and the
    merged schema takes the wider side regardless of which side is new
    (a narrower incoming batch is simply cast up by ``_conform``).
    Lossy changes (string→int, bigint→int as the *merged* result, scale
    changes) still fail loudly, and so does a new column named after one
    of the writer's own columns (``_RESERVED``)."""
    base_names = {f.name: f for f in base.fields}
    out = list(base.fields)
    for f in incoming.fields:
        if f.name in base_names:
            # nullability differences (e.g. parquet round-trip relaxing
            # containsNull) are not evolution; compare erased types only
            bf = base_names[f.name]
            if f.dataType.simpleString() != bf.dataType.simpleString():
                wide = _widen_type(bf.dataType, f.dataType) if allow_widening else None
                if wide is None:
                    raise ValueError(
                        f"incompatible evolution for column {f.name}: "
                        f"{bf.dataType} -> {f.dataType}"
                    )
                if wide.simpleString() != bf.dataType.simpleString():
                    out[out.index(bf)] = T.StructField(f.name, wide, True)
        elif f.name in _RESERVED:
            raise ValueError(f"column name {f.name!r} is reserved for the table writer")
        else:
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)


_COL_PROPS = ("stats_cols", "sort_cols", "bloom_cols")


def _layout_properties(stats_cols=None, sort_cols=None, bloom_cols=None,
                       target_file_rows=None, type_widening=False, **_) -> dict[str, str]:
    """The table properties ``LakeTable.create``'s layout keywords
    publish (an unset keyword publishes none).  ``get_or_create`` passes
    a caller's whole ``create`` keywords (``**_`` takes the non-layout
    ones) and compares the result with the stored properties."""
    props = {p: ",".join(c) for p, c in zip(_COL_PROPS, (stats_cols, sort_cols, bloom_cols)) if c}
    if target_file_rows is not None:
        props["target_file_rows"] = str(int(target_file_rows))
    if type_widening:
        props["type_widening"] = "true"
    return props


# Spark's Parquet codec names -> pyarrow's, for the driver writer; Spark's
# others (lzo, lz4_raw) pyarrow cannot write
_PARQUET_CODECS = {"none": "none", "uncompressed": "none", "snappy": "snappy",
                   "gzip": "gzip", "zstd": "zstd", "brotli": "brotli", "lz4": "lz4"}


class LakeTable:
    """A bucketed, versioned Parquet table with atomic commits."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)

    # ------------------------------------------------------------------ paths
    @property
    def _meta(self) -> str:
        return os.path.join(self.root, META_DIR)

    def _snapshot_path(self, version: int) -> str:
        return os.path.join(self._meta, f"v{version}.json")

    # ------------------------------------------------------------------ lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key_cols: list[str],
        n_buckets: int = 16,
        target_file_rows: int | None = None,
        stats_cols: list[str] | None = None,
        sort_cols: list[str] | None = None,
        type_widening: bool = False,
        bloom_cols: list[str] | None = None,
    ) -> "LakeTable":
        """``target_file_rows``: when set, every commit splits each bucket's
        output at this row count (``maxRecordsPerFile``) instead of writing
        one file per bucket — the Iceberg ``write.target-file-size`` role.
        Without it a hot/compacted bucket becomes one multi-GB file: a
        straggler task and an executor-memory hazard at 100 TB.  Rows, not
        bytes, because rows are what the writer can bound deterministically;
        size n_buckets × target_file_rows so a file lands in the hundreds
        of MB for the table's row width.

        ``stats_cols``: columns whose per-file [min, max] bounds are
        harvested from the Parquet footers at commit time and stored in the
        manifests (Iceberg column metrics).  ``read(where=...)`` skips files
        whose bounds cannot match — on a 100 TB table an LSN/time range
        probe then opens O(matching files), not the world.  Footer opens are
        already paid by the commit's row-count stat, so the bounds are free.

        ``sort_cols``: cluster rows WITHIN each bucket by these columns at
        every write (``sortWithinPartitions`` — a per-task sort, no added
        exchange, so the zero-shuffle merge path keeps its plan).  Combined
        with ``target_file_rows`` the files of a bucket get tight, mostly
        disjoint ``stats_cols`` ranges, which is what makes skipping
        effective (the Iceberg write-order / clustering role).

        ``bloom_cols``: write a Parquet bloom filter for these columns into
        every data file.  min/max bounds cannot prune an EQUALITY probe on
        a high-cardinality, un-clustered column (every file of a bucket
        spans the full doc_id range, so a point lookup otherwise decodes
        every row group of the key's bucket); the bloom lets the reader
        drop whole row groups from footer metadata alone — Spark's Parquet
        scan applies bloom-level row-group filtering for pushed-down ``=``
        and ``IN`` predicates by default (``parquet.filter.bloom.enabled``).
        Blooms are sized from ``target_file_rows`` (an upper bound on
        per-file NDV) when set, else parquet-mr's default cap applies.
        Cost is write-side CPU plus ~1%% file size; pick the column(s) a
        serving/point-lookup path actually probes (typically the key).

        ``type_widening``: opt in to lossless type promotion on evolution
        (int→…→bigint, float→double, decimal precision, arrays
        element-wise — the Iceberg ``promote`` set).  Off by default: the
        reference evolves additively only, and the per-row token-array
        equality contract is easiest to audit when types are frozen.  No
        file rewrite on widen — Spark 4's Parquet readers upcast old
        narrow files under the widened read schema in place.

        ``__bucket`` and ``__change`` are the writer's own columns
        (``_RESERVED``): a schema holding either raises ValueError."""
        _merge_schemas(T.StructType(), schema)  # refuses the reserved names
        t = cls(spark, root)
        os.makedirs(t._meta, exist_ok=True)
        os.makedirs(os.path.join(t.root, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.root, DATA_DIR), exist_ok=True)
        if target_file_rows is not None and target_file_rows <= 0:
            raise ValueError("target_file_rows must be positive")
        field_names = {f.name for f in schema.fields}
        for prop, cols in zip(_COL_PROPS, (stats_cols, sort_cols, bloom_cols)):
            unknown = sorted(set(cols or ()) - field_names)
            if unknown:
                raise ValueError(f"{prop} not in schema: {unknown}")
        props = {"bucket_fn": BUCKET_FN_ID, **_layout_properties(
            stats_cols, sort_cols, bloom_cols, target_file_rows, type_widening)}
        snap = Snapshot(
            version=0,
            schema_json=json.dumps(schema.jsonValue()),
            n_buckets=n_buckets,
            key_cols=list(key_cols),
            properties=props,
        )
        snap._root = t.root
        t._publish(snap)
        return t

    @classmethod
    def get_or_create(cls, spark: SparkSession, root: str, **create_kwargs) -> "LakeTable":
        """Race-safe exists-or-create: when two processes boot against the
        same fresh root simultaneously, the CAS in ``_publish`` makes the
        slower ``create`` raise ``CommitConflictError`` — here that means
        the table now exists, so load it instead of failing startup.

        When the table already exists the ``create_kwargs`` are NOT applied
        (the stored snapshot wins — creation-time layout is immutable here;
        see ``maintenance.rebucket`` for bucket-count evolution), but any
        divergence between what the caller asked for and what the table
        actually is gets logged: a pre-existing table silently ignoring a
        caller's new ``stats_cols``/``n_buckets`` defaults is how file
        skipping ends up inactive with nobody noticing."""
        if cls.exists(root):
            t = cls.load(spark, root)
            t._warn_create_kwargs_divergence(create_kwargs)
            return t
        try:
            return cls.create(spark, root, **create_kwargs)
        except CommitConflictError:
            t = cls.load(spark, root)
            t._warn_create_kwargs_divergence(create_kwargs)
            return t

    def _warn_create_kwargs_divergence(self, kw: dict) -> None:
        snap = self.current()
        props = snap.properties
        want: dict[str, Any] = {}
        have: dict[str, Any] = {}
        if "n_buckets" in kw and kw["n_buckets"] != snap.n_buckets:
            want["n_buckets"], have["n_buckets"] = kw["n_buckets"], snap.n_buckets
        if "key_cols" in kw and list(kw["key_cols"]) != snap.key_cols:
            want["key_cols"], have["key_cols"] = list(kw["key_cols"]), snap.key_cols
        if "schema" in kw:
            asked = {f.name for f in kw["schema"].fields}
            stored = {f.name for f in snap.schema.fields}
            if asked - stored:  # additive evolution makes extra stored cols fine
                want["schema_fields"] = sorted(asked)
                have["schema_fields"] = sorted(stored)
        for prop, value in _layout_properties(**kw).items():
            if props.get(prop) != value:
                want[prop], have[prop] = value, props.get(prop)
        if want:
            _LOG.warning(
                "get_or_create(%s): table exists; requested settings differ from "
                "the stored snapshot and were IGNORED: requested=%s stored=%s",
                self.root, want, have,
            )

    @classmethod
    def exists(cls, root: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(root), META_DIR, CURRENT_PTR))

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        t.current()  # raises if missing
        return t

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    # ------------------------------------------------------------------ snapshots
    def current_version(self) -> int:
        with open(os.path.join(self._meta, CURRENT_PTR)) as fh:
            return int(fh.read().strip())

    def current(self) -> Snapshot:
        return self.snapshot(self.current_version())

    def snapshot(self, version: int) -> Snapshot:
        with open(self._snapshot_path(version)) as fh:
            snap = Snapshot.from_json(json.load(fh))
        snap._root = self.root
        return snap

    # ------------------------------------------------------------------ tags
    # Named immutable refs to snapshot versions (the Iceberg tag role).
    # The training-data use: tag the snapshot a model trained on
    # ("run-2026-08-17") and the exact dataset stays reproducible — tagged
    # versions are PINNED against expire_snapshots, so the files survive
    # retention however far current() advances.

    _TAG_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")

    def _tag_path(self, name: str) -> str:
        if not self._TAG_RE.match(name):
            raise ValueError(f"invalid tag name: {name!r}")
        return os.path.join(self._meta, "tags", f"{name}.json")

    def tag(self, name: str, version: int | None = None, replace: bool = False) -> int:
        """Pin ``version`` (default: current) under ``name``.  Creation is
        O_EXCL-atomic: two writers racing the same fresh name get exactly
        one winner, same contract as the snapshot CAS.  ``replace=True``
        moves an existing tag atomically instead."""
        v = self.current_version() if version is None else int(version)
        self.snapshot(v)  # raises if the version does not exist
        path = self._tag_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        payload = json.dumps({"version": v})
        if replace:
            tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                fh.write(payload)
            os.replace(tmp, path)
        else:
            try:
                with open(path, "x") as fh:
                    fh.write(payload)
            except FileExistsError:
                raise ValueError(
                    f"tag {name!r} already exists (at v{self.resolve_tag(name)}); "
                    "pass replace=True to move it"
                ) from None
        return v

    def tags(self) -> dict[str, int]:
        d = os.path.join(self._meta, "tags")
        out: dict[str, int] = {}
        if os.path.isdir(d):
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".json") and not fn.startswith("."):
                    with open(os.path.join(d, fn)) as fh:
                        out[fn[: -len(".json")]] = int(json.load(fh)["version"])
        return out

    def resolve_tag(self, name: str) -> int:
        path = self._tag_path(name)
        try:
            with open(path) as fh:
                return int(json.load(fh)["version"])
        except FileNotFoundError:
            raise KeyError(f"no such tag: {name!r}") from None

    def delete_tag(self, name: str) -> bool:
        """Drop the ref (the pinned snapshot becomes expirable again).
        Returns False when the tag did not exist."""
        try:
            os.unlink(self._tag_path(name))
            return True
        except FileNotFoundError:
            return False

    def _publish(self, snap: Snapshot) -> None:
        """Compare-and-swap publish: write snapshot JSON, then atomically
        flip the ``_current`` pointer — but ONLY if the pointer still reads
        ``snap.version - 1`` (the base this commit was planned against).

        This enforces the single-writer contract instead of documenting it
        (Iceberg's optimistic concurrency on the catalog pointer; reference
        analog: Postgres serializes the upserts transactionally,
        ``parser/db.py:258-330``).  Two writers racing the old
        last-write-wins ``os.replace`` could silently drop a committed
        snapshot; now the slower writer gets ``CommitConflictError`` and
        must retry from the new current state (its data files become
        orphans; ``expire_snapshots`` collects them).  The check-and-swap
        runs under an exclusive ``flock`` — kernel-released on process
        death, so no stale-lock recovery path — and the critical section
        is two small metadata writes, never Spark work.  On an object
        store without atomic rename, swap this for a catalog CAS
        (DynamoDB/Glue conditional put); the contract is identical."""
        import fcntl

        ptr = os.path.join(self._meta, CURRENT_PTR)
        with open(os.path.join(self._meta, "_commit.lock"), "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            try:
                cur = self.current_version() if os.path.exists(ptr) else -1
                if cur != snap.version - 1:
                    raise CommitConflictError(
                        f"table {self.root}: commit planned against version "
                        f"{snap.version - 1} but current is {cur} — another "
                        f"writer committed first; retry from the new state"
                    )
                path = self._snapshot_path(snap.version)
                tmp = path + ".tmp"
                with open(tmp, "w") as fh:
                    json.dump(snap.to_json(), fh)
                os.replace(tmp, path)
                ptr_tmp = ptr + ".tmp"
                with open(ptr_tmp, "w") as fh:
                    fh.write(str(snap.version))
                os.replace(ptr_tmp, ptr)
            finally:
                fcntl.flock(lk, fcntl.LOCK_UN)

    def has_commit(self, commit_key: str) -> bool:
        return self.current().has_commit_key(commit_key)

    @staticmethod
    def _target_file_rows(props: dict[str, str]) -> int | None:
        v = props.get("target_file_rows")
        return int(v) if v else None

    @staticmethod
    def _prop_cols(props: dict[str, str], prop: str) -> list[str]:
        v = props.get(prop)
        return [c for c in v.split(",") if c] if v else []

    @staticmethod
    def _widening(snap: Snapshot) -> bool:
        return snap.properties.get("type_widening", "").lower() in ("1", "true")

    # ------------------------------------------------------------------ bucketing
    def check_bucket_fn(self, snap: Snapshot) -> None:
        """Fail loudly if the table was written with a different bucket hash:
        pruning/merging with a mismatched function silently reads the wrong
        buckets and loses LWW updates."""
        fn = snap.properties.get("bucket_fn")
        if fn != BUCKET_FN_ID:
            raise ValueError(
                f"table {self.root} records bucket_fn={fn!r} but this engine "
                f"computes {BUCKET_FN_ID!r}; refusing bucket-dependent operation"
            )

    def buckets_of(self, df: DataFrame, snap: Snapshot) -> list[int]:
        """The distinct storage buckets ``df``'s rows hash to under
        ``snap``'s layout — the touched set of a ``merge_lww`` called
        without ``buckets=`` (the preload and direct merges).  One small
        job: a column-pruned scan of the key columns and a distinct of at
        most ``n_buckets`` ints."""
        self.check_bucket_fn(snap)
        expr = bucket_of(snap.key_cols, snap.n_buckets)
        return [r[0] for r in df.select(expr.alias("__b")).distinct().collect()]

    # ------------------------------------------------------------------ read
    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        where: dict[str, tuple[Any, Any]] | None = None,
        tag: str | None = None,
        where_in: dict[str, list] | None = None,
    ) -> DataFrame:
        """Scan the table at a snapshot.  ``buckets`` prunes at file level —
        only the Parquet files registered for those buckets are opened.

        ``where`` maps column -> (lo, hi) inclusive range (either bound
        None for open-ended); ranges on different columns are ANDed.  Files
        whose manifest [min, max] bounds (``stats_cols``) cannot intersect
        the range are never opened — manifest-level data skipping, the
        Iceberg metrics-pruning role.  The range predicates are ALSO applied
        to the returned DataFrame, so results are exact whether or not a
        file carries bounds: skipping is an I/O optimization, the residual
        filter is the truth (and Parquet row-group pushdown still applies
        inside the files that survive).

        ``tag``: read at a named ref instead of a numeric version (the
        reproducible-training-set path — see :meth:`tag`).

        ``where_in`` maps column -> collection of probe values (the
        point-lookup path — reference analog: the per-key online SELECTs in
        ``parser/db.py:112-256``); columns AND together, values within a
        column OR.  Three pruning layers compose: (1) when the probe
        columns cover the table's key columns, the candidate BUCKETS are
        computed by hashing the probe keys over an Arrow-built local
        relation (no Spark job) — a point lookup on a 100 TB table
        opens one bucket's files; (2)
        files whose [min, max] bounds contain no probe value are skipped;
        (3) the residual ``isin`` filter is pushed to the Parquet scan,
        where per-file bloom filters (``bloom_cols``) do the row-group
        work.  As with ``where``, skipping is an optimization and the
        residual filter is the truth — results are exact regardless of
        which layers fire.

        Probe values are conformed to the column's type first
        (``_conform_where_in``): an int probe on a string column looks up
        the string form, a string probe on a long column is parsed, and a
        value the type cannot represent matches nothing — never an ANSI
        runtime cast error, and never a hash/filter disagreement.  A plan
        that keeps no file returns an empty local frame (``_local_frame``):
        no Spark job."""
        p = self.plan(buckets=buckets, version=version, where=where, tag=tag,
                      where_in=where_in)
        schema = p.snapshot.schema
        if not p.files:
            return _local_frame(self.spark, schema)
        paths = [os.path.join(self.root, f.path) for f in p.files]
        # explicit schema => old files yield NULL for late-added columns
        # (additive evolution), and column pruning/pushdown still apply.
        df = self.spark.read.schema(schema).parquet(*paths)
        return df if p.residual is None else df.where(p.residual)

    def plan(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        where: dict[str, tuple[Any, Any]] | None = None,
        tag: str | None = None,
        where_in: dict[str, list] | None = None,
    ) -> ScanPlan:
        """The ONE pruning plan behind every predicate-scoped operation —
        ``read``, ``maintenance.delete_where``/``update_where`` and
        ``join.colocated_join`` all scan what this returns.  Arguments are
        ``read``'s.  In order:

        1. conform ``where`` bounds and ``where_in`` probes to the column
           types (``_conform_where_bounds`` / ``_conform_where_in``); an
           integral range no value of its type satisfies keeps no file;
        2. convert each value once, to the form its column stores
           (``_stored``): a datetime on a ``timestamp`` column is its
           instant, on a ``timestamp_ntz`` column its wall clock in
           ``spark.sql.session.timeZone`` and on a ``date`` column the
           exact date; a probe list left empty matches nothing, so no
           file survives;
        3. a key-covering probe picks the candidate buckets
           (``_probe_buckets``, which hashes a local relation: planning
           runs no Spark job), and any bucket pruning first checks the
           recorded bucket function;
        4. files whose manifest bounds exclude every probe value or a range
           are skipped (``_file_may_match_in`` / ``_file_may_match``).

        The residual is the converted predicate as one Column: ranges
        (``>=``/``<=``) AND ``isin`` lists, NTZ values as ``timestamp_ntz``
        literals (``_literal``: no column cast).  It, the probe, the skip
        test and ``ScanPlan.bounds`` compare the one converted value, so
        they agree across DST folds and gaps.  The session zone is looked
        up only when a datetime meets a ``timestamp_ntz`` or ``date``
        column; if Python cannot resolve it, those values skip nothing and
        the residual keeps Spark's own comparison (``_Unzoned``).  NULL in
        a predicate column never satisfies it."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            version = self.resolve_tag(tag)
        snap = self.snapshot(version) if version is not None else self.current()
        where = _conform_where_bounds(snap.schema, where) if where else {}
        if where is None:
            return ScanPlan(snap, [], F.lit(False), {})
        where_in = _conform_where_in(snap.schema, where_in) if where_in else {}
        types = {f.name: f.dataType for f in snap.schema.fields}
        zone = None
        if any(isinstance(v, _dt.datetime) and isinstance(types.get(c), _ZONED)
               for c, vals in (*where.items(), *where_in.items()) for v in vals):
            zone = _session_zone(self.spark.conf.get("spark.sql.session.timeZone"))
        bounds = {c: (_stored(lo, types.get(c), zone, True),
                      _stored(hi, types.get(c), zone, False))
                  for c, (lo, hi) in where.items()}
        # a datetime probe on a date column off its midnight equals no row
        stored = {c: [s for s in (_stored(v, types.get(c), zone) for v in vals) if s is not None]
                  for c, vals in where_in.items()}
        terms = []
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                terms.append(F.col(c) >= _literal(lo, types.get(c)))
            if hi is not None:
                terms.append(F.col(c) <= _literal(hi, types.get(c)))
        terms += [F.col(c).isin([_literal(v, types.get(c)) for v in vals])
                  for c, vals in stored.items()]
        residual = functools.reduce(operator.and_, terms) if terms else None
        if any(len(v) == 0 for v in stored.values()):
            # empty, or emptied by conformance: skip the scan entirely
            return ScanPlan(snap, [], residual, bounds)
        if stored and buckets is None:
            buckets = self._probe_buckets(snap, stored)
        if buckets is not None:
            # pruning correctness depends on the bucket hash matching
            self.check_bucket_fn(snap)
        files = snap.files_for(buckets)
        if stored:
            # encoded once per plan, not per file (a snapshot can list 10^5
            # files): sorted for the bisect; [] marks a column unprunable
            # when any probe value is unencodable (``_Unzoned`` included)
            # or unorderable
            enc_in: dict[str, list] = {}
            for col, vals in stored.items():
                ev = [_stats_encode(v) for v in vals]
                try:
                    enc_in[col] = sorted(ev) if None not in ev else []
                except TypeError:
                    enc_in[col] = []
            files = [f for f in files if _file_may_match_in(f, enc_in)]
        if bounds:
            enc = {c: (_stats_encode(lo), _stats_encode(hi)) for c, (lo, hi) in bounds.items()}
            files = [f for f in files if _file_may_match(f, enc)]
        return ScanPlan(snap, files, residual, bounds)

    _PROBE_BUCKET_MAX_COMBOS = 4096

    def _probe_buckets(
        self, snap: Snapshot, where_in: dict[str, list]
    ) -> list[int] | None:
        """Candidate buckets for a key-covering point lookup, or None when
        bucket pruning cannot apply: the probe misses a key column, a key
        value has no stored form (``_Unzoned``) or is one the key type
        cannot hold, or the key cross-product exceeds
        ``_PROBE_BUCKET_MAX_COMBOS``.  ``where_in`` holds the plan's
        stored-form values (``_stored``), the ones its residual compares:
        an NTZ key hashes as its session-zone wall clock, a fold or gap
        wall clock included.  The combinations are hashed through the SAME Spark
        expression that routed writes (``bucket_of`` over the snapshot's
        key schema — a Python reimplementation of murmur3 would be a
        silent-corruption risk) over one Arrow-built local frame
        (``_local_frame``), so collecting the bucket ids runs no Spark job;
        they are deduplicated here."""
        import itertools

        if not set(snap.key_cols) <= set(where_in):
            return None
        lists = [where_in[k] for k in snap.key_cols]
        n_combos = functools.reduce(operator.mul, map(len, lists), 1)
        if (n_combos == 0 or n_combos > self._PROBE_BUCKET_MAX_COMBOS
                or any(isinstance(v, _Unzoned) for vals in lists for v in vals)):
            return None
        self.check_bucket_fn(snap)
        # exact key types: the murmur3 of int32 and int64 differ, so probe
        # values take the stored key schema before hashing
        key_fields = T.StructType([snap.schema[k] for k in snap.key_cols])
        try:
            kdf = _local_frame(
                self.spark, key_fields, list(zip(*itertools.product(*lists)))
            )
        except (TypeError, ValueError, OverflowError):
            # a value the key type cannot hold falls back to the unpruned
            # path; the residual isin filter stays the truth
            return None
        expr = bucket_of(snap.key_cols, snap.n_buckets)
        return sorted({r[0] for r in kdf.select(expr).collect()})

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental changelog between two snapshots (Iceberg
        incremental-read role; reference analog: the daily Airflow job
        exporting only rows newer than the last sync,
        ``datalake_daily_sync.py:412-630``).

        Returns the rows whose stored content differs, tagged
        ``_change_type`` ∈ {insert, delete}; an updated key appears as a
        delete of its old payload plus an insert of the new one.  The
        result is the multiset difference of the two snapshots, read from
        the change feeds the commits of ``(from_version, to_version]``
        recorded (``Snapshot.feed``) — no bucket of either snapshot is
        scanned, so an incremental consumer of a 100 TB table reads only
        the rows that changed.  All feed files of one change type are read
        as one relation under ``to_version``'s schema (the scan null-fills
        late-added columns and casts widened types up).  A
        commit's feed is already net, so a single contributing commit is
        returned as is; feeds of several commits are netted with
        ``exceptAll`` (a row inserted and deleted inside the interval
        cancels).  Maintenance commits (compaction, z-order, rebucket)
        record an empty feed and contribute nothing.

        Raises ``FileNotFoundError`` when ``from_version`` or an
        intermediate snapshot was expired, or when a snapshot of the
        interval was written before feeds existed: the interval can no
        longer be read incrementally."""
        to_version = self.current_version() if to_version is None else to_version
        schema = self.snapshot(to_version).schema
        self.snapshot(from_version)  # an expired base: FileNotFoundError
        paths: dict[str, list[str]] = {INSERT: [], DELETE: []}
        contributing = 0
        for v in range(from_version + 1, to_version + 1):
            snap = self.snapshot(v)
            if snap.feed is None:
                # written before feeds existed: as unreadable incrementally
                # as an expired snapshot, so consumers take the same fallback
                raise FileNotFoundError(
                    f"table {self.root}: snapshot v{v} records no change feed "
                    "(written before feeds existed); changes() cannot span it"
                )
            contributing += bool(snap.feed)
            for c in snap.feed:
                paths[c.change].append(os.path.join(self.root, c.path))
        # one relation per change type: the scan reads every feed file
        # under to_version's schema, whatever schema its commit had
        parts = {c: self.spark.read.schema(schema).parquet(*p)
                 for c, p in paths.items() if p}
        if contributing > 1 and len(parts) == 2:
            ins, dele = parts[INSERT], parts[DELETE]
            parts = {INSERT: ins.exceptAll(dele), DELETE: dele.exceptAll(ins)}
        tagged = [df.withColumn(CHANGE_COL, F.lit(c)) for c, df in parts.items()]
        if not tagged:
            return _local_frame(
                self.spark,
                T.StructType(schema.fields + [T.StructField(CHANGE_COL, T.StringType())]),
            )
        return functools.reduce(DataFrame.unionByName, tagged)

    # ------------------------------------------------------------------ write
    def _write_commit_files(
        self,
        df: "DataFrame | pa.Table",
        commit_id: str,
        n_buckets: int,
        key_cols: list[str],
        props: dict[str, str],
        sort_exprs: list | None = None,
    ) -> tuple[list[DataFile], list[ChangeFile]]:
        """Write ``df`` as one directory tree partitioned by bucket; return the
        produced data files tagged with their bucket, and the change-feed
        files.  ``df`` is in the commit's write schema.  A ``df`` carrying
        ``FEED_COL`` (see ``overwrite_buckets``) holds both in one frame,
        and one write produces both: the tag becomes an outer partition
        directory (``__change=<kind>/__bucket=<b>/``), so feed rows never
        land in a data file.  ``props`` (the properties the commit will
        publish) give ``target_file_rows``, ``stats_cols``, ``sort_cols``
        and ``bloom_cols``.

        Two file writers, picked by what ``df`` is: a DataFrame (a plan)
        goes through the Spark writer (``_spark_write``), a
        ``pyarrow.Table`` (rows already on the driver) through the driver
        writer (``_driver_write``), which runs no Spark job.  Both write
        the same layout — one file per bucket, split at
        ``target_file_rows``, rows clustered by ``sort_cols`` — so the
        listing and the footer stats below, and ``_commit``'s CAS and
        rebase, do not know which writer ran."""
        stats_cols = self._prop_cols(props, "stats_cols")
        commit_rel = os.path.join(DATA_DIR, commit_id)
        commit_abs = os.path.join(self.root, commit_rel)
        if isinstance(df, DataFrame):
            self._spark_write(df, commit_abs, n_buckets, key_cols, props, sort_exprs)
        else:
            self._driver_write(df, commit_abs, n_buckets, key_cols, props)
        # stat the produced files with a thread pool: footer opens are
        # ~ms each but serial over n_buckets files they add up to a fixed
        # driver-side cost per commit that hurts scaling (Amdahl)
        from concurrent.futures import ThreadPoolExecutor

        todo: list[tuple[str, int]] = []
        changes: list[ChangeFile] = []
        # a feed-carrying write has only ``__change=<kind>`` directories on
        # top (no data column may take the name: ``_RESERVED``)
        tops = [
            (os.path.join(commit_rel, e), e.split("=", 1)[1])
            for e in os.listdir(commit_abs) if e.startswith(f"{FEED_COL}=")
        ] or [(commit_rel, _TABLE_ROW)]
        for top, change in tops:
            for entry in os.listdir(os.path.join(self.root, top)):
                if not entry.startswith(f"{BUCKET_COL}="):
                    continue
                bucket = int(entry.split("=", 1)[1])
                bdir = os.path.join(self.root, top, entry)
                for fn in os.listdir(bdir):
                    if not fn.endswith(".parquet"):
                        continue
                    rel = os.path.join(top, entry, fn)
                    if change == _TABLE_ROW:
                        todo.append((rel, bucket))
                    else:
                        changes.append(ChangeFile(rel, change))

        def _stat(item: tuple[str, int]) -> DataFile:
            import pyarrow.parquet as pq

            rel, bucket = item
            md = pq.ParquetFile(os.path.join(self.root, rel)).metadata
            stats: dict[str, list[Any]] | None = None
            if stats_cols:
                # fold row-group footer bounds into one [min, max] per column;
                # a column missing bounds in ANY row group records nothing
                # (a partial bound could wrongly skip the file)
                idx = {
                    md.schema.column(j).name: j for j in range(md.num_columns)
                }
                stats = {}
                for col in stats_cols:
                    j = idx.get(col)
                    if j is None:
                        continue
                    lo = hi = None
                    ok = True
                    for g in range(md.num_row_groups):
                        s = md.row_group(g).column(j).statistics
                        if s is None or not s.has_min_max:
                            ok = False
                            break
                        smin, smax = _stats_encode(s.min), _stats_encode(s.max)
                        if smin is None or smax is None:
                            ok = False
                            break
                        lo = smin if lo is None else min(lo, smin)
                        hi = smax if hi is None else max(hi, smax)
                    if ok and lo is not None:
                        stats[col] = [lo, hi]
                stats = stats or None
            return DataFile(path=rel, bucket=bucket, rows=md.num_rows, stats=stats)

        with ThreadPoolExecutor(max_workers=16) as pool:
            files = list(pool.map(_stat, todo))
        return files, changes

    def _spark_write(
        self,
        df: DataFrame,
        commit_abs: str,
        n_buckets: int,
        key_cols: list[str],
        props: dict[str, str],
        sort_exprs: list | None,
    ) -> None:
        """The Spark writer: one dynamic-partition write of ``df`` under
        ``commit_abs``.  One output file per bucket by default (a MERGE
        batch touches a bounded set of buckets, so files stay coarse); with
        ``target_file_rows`` set (the table property, see ``create``) each
        bucket's output is split at that row count via
        ``maxRecordsPerFile`` — an intra-task split, so the merge keeps
        its one-exchange plan while a hot or freshly compacted bucket
        still lands as N bounded files in the per-bucket manifest instead
        of one multi-GB straggler.

        A ``df`` that carries ``BUCKET_COL`` (only the merge's frame can:
        the name is reserved) is shuffled on it, so every partition holds
        whole buckets: it is written on that column with NO further
        exchange and still one file per bucket.  Any other ``df`` gets the
        column from ``bucket_of`` and an explicit repartition, which keeps
        the snapshot's file count O(n_buckets) — skipping it would fan out
        to n_partitions × n_buckets files (measured 2× end-to-end
        regression from distributed listing on every read)."""
        target_file_rows = self._target_file_rows(props)
        sort_cols = self._prop_cols(props, "sort_cols")
        cols = df.columns
        bucket = F.col(BUCKET_COL) if BUCKET_COL in cols else bucket_of(key_cols, n_buckets)
        if FEED_COL in cols:
            # feed rows are not bucketed (bucket -1): each write task emits
            # at most one file per change type, not one per bucket it holds
            row = F.col(FEED_COL).isNull()
            out = df.select(
                *[c for c in cols if c not in _RESERVED],
                F.when(row, bucket).otherwise(F.lit(-1)).alias(BUCKET_COL),
                F.coalesce(F.col(FEED_COL), F.lit(_TABLE_ROW)).alias(FEED_COL),
            )
            parts = [FEED_COL, BUCKET_COL]
        else:
            out, parts = df.withColumn(BUCKET_COL, bucket), [BUCKET_COL]
        if BUCKET_COL not in cols:
            out = out.repartition(n_buckets, F.col(BUCKET_COL))
        if sort_exprs is not None:
            # caller-supplied clustering expressions (e.g. a z-order value)
            # replace the table's declared sort_cols for THIS commit; an
            # expression sorts without materializing a physical column
            out = out.sortWithinPartitions(*parts, *sort_exprs)
        elif sort_cols:
            # per-task sort, no exchange: leading partition columns keep
            # each bucket's rows contiguous (the dynamic-partition writer
            # needs that sort anyway — pre-sorting folds both into one), and
            # the trailing sort_cols cluster rows so maxRecordsPerFile
            # splits land with tight, near-disjoint stats ranges
            out = out.sortWithinPartitions(*parts, *sort_cols)
        writer = out.write.mode("overwrite")
        if target_file_rows is not None:
            writer = writer.option("maxRecordsPerFile", int(target_file_rows))
        for c in self._prop_cols(props, "bloom_cols"):
            # per-column parquet-mr bloom; NDV bounded by the file row cap
            # when known, so the filter is sized instead of defaulting to
            # the max-bytes cap
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            if target_file_rows is not None:
                writer = writer.option(
                    f"parquet.bloom.filter.expected.ndv#{c}", int(target_file_rows)
                )
        writer.partitionBy(*parts).parquet(commit_abs)

    def _driver_write(
        self,
        rows: "pa.Table",
        commit_abs: str,
        n_buckets: int,
        key_cols: list[str],
        props: dict[str, str],
    ) -> None:
        """The driver writer: ``rows`` (a ``pyarrow.Table`` in the commit's
        write schema) written with ``pyarrow.parquet`` into the Spark
        writer's layout, with no Spark job.  Bucket ids come from the
        unchanged ``bucket_of`` over an Arrow-built local frame of the key
        columns (``_local_frame``: no job, and no second hash to keep in
        step with Spark's).  Each (feed kind, bucket) run is sorted by
        ``sort_cols`` (ascending, NULLs first, as Spark sorts) and split at
        ``target_file_rows``.  Files take the session's
        ``spark.sql.parquet.compression.codec``, as the Spark writer's do
        (``_PARQUET_CODECS``).  Rows for a table with ``bloom_cols`` are
        refused: pyarrow writes no bloom filters, and a file without one
        would only be slower to probe, so the caller must hold a plan
        instead; so are rows under a codec pyarrow cannot write.  Zero
        rows write no file, so they are never refused."""
        import itertools

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(commit_abs, exist_ok=True)
        n = rows.num_rows
        if n == 0:
            return
        if self._prop_cols(props, "bloom_cols"):
            raise ValueError(
                f"table {self.root} declares bloom_cols, which the driver "
                "writer cannot write; commit a DataFrame instead"
            )
        codec = self.spark.conf.get("spark.sql.parquet.compression.codec").lower()
        if codec not in _PARQUET_CODECS:
            raise ValueError(
                f"spark.sql.parquet.compression.codec={codec!r} is not one the "
                "driver writer can write; commit a DataFrame instead"
            )
        feed = FEED_COL in rows.column_names
        keys = rows.select(key_cols)
        kdf = _local_frame(self.spark, _schema_of(keys), keys)
        ids = [r[0] for r in kdf.select(bucket_of(key_cols, n_buckets)).collect()]
        kinds = ([k or _TABLE_ROW for k in rows.column(FEED_COL).to_pylist()]
                 if feed else [_TABLE_ROW] * n)
        data = rows.drop_columns([FEED_COL]) if feed else rows
        data = data.append_column(FEED_COL, pa.array(kinds, pa.string())).append_column(
            # feed rows are not bucketed (bucket -1), as in the Spark writer
            BUCKET_COL, pa.array([b if k == _TABLE_ROW else -1 for k, b in zip(kinds, ids)],
                                 pa.int32()),
        )
        order = [FEED_COL, BUCKET_COL, *self._prop_cols(props, "sort_cols")]
        data = data.take(pc.sort_indices(
            data, sort_keys=[(c, "ascending") for c in order], null_placement="at_start"))
        step = self._target_file_rows(props) or n
        run_keys = zip(data.column(FEED_COL).to_pylist(), data.column(BUCKET_COL).to_pylist())
        data = data.drop_columns([FEED_COL, BUCKET_COL])
        start = 0
        for (kind, bucket), run in itertools.groupby(run_keys):
            size = sum(1 for _ in run)
            bdir = os.path.join(
                commit_abs, *([f"{FEED_COL}={kind}"] if feed else []), f"{BUCKET_COL}={bucket}"
            )
            os.makedirs(bdir, exist_ok=True)
            for off in range(0, size, step):
                pq.write_table(
                    data.slice(start + off, min(step, size - off)),
                    os.path.join(bdir, f"part-{off // step:05d}-{uuid.uuid4().hex}.parquet"),
                    compression=_PARQUET_CODECS[codec],
                )
            start += size

    def _write_manifest(self, bucket: int, files: list[DataFile], commit_id: str) -> str:
        """Write one immutable per-bucket manifest; return its rel path."""
        rel = os.path.join(MANIFEST_DIR, f"{commit_id}-b{bucket}.json")
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump([f.to_json() for f in files], fh)
        os.replace(tmp, path)
        return rel

    def _commit(
        self,
        base: Snapshot,
        commit_id: str,
        commit_key: str | None,
        new_files: list[DataFile],
        feed: list[ChangeFile],
        replace: Iterable[int] | None = None,
        keep_files: dict[int, list[DataFile]] | None = None,
        schema: T.StructType | None = None,
        n_buckets: int | None = None,
        properties: dict[str, str] | None = None,
    ) -> bool:
        """The ONE commit step (``append``, ``overwrite_buckets``,
        ``maintenance.rebucket``): the only code that writes manifests,
        advances the commit keys, assembles the next ``Snapshot`` and
        publishes it, for ``new_files`` already written against ``base``.
        ``feed``: the commit's change feed, published in the same snapshot
        (``[]`` for a commit that changes no row).  ``replace``: buckets of
        ``base``'s layout whose files are dropped (then re-listed as
        ``keep_files`` + ``new_files``); None = append.
        ``properties`` are merged over the current ones.

        A lost CAS re-reads current and rebases metadata-only, up to
        ``MAX_REBASES`` times, under one rule: an append is valid against
        any base, so it always rebases (re-merging the schema); a
        replacement's rows were derived from ``base``'s replaced buckets,
        so it rebases only when every interleaved commit left those
        buckets' manifests, the schema and the bucket layout unchanged.
        Files written under a since-changed layout never rebase.  Refusal
        raises ``CommitConflictError`` (re-derive).  Returns False when
        another writer applied ``commit_key`` first."""
        bset = None if replace is None else set(replace)
        by_bucket = {b: list(fs) for b, fs in (keep_files or {}).items() if fs}
        for f in new_files:
            by_bucket.setdefault(f.bucket, []).append(f)
        schema = base.schema if schema is None else schema
        snap = base
        for attempt in range(MAX_REBASES + 1):
            if attempt:
                snap = self.current()
                if commit_key is not None and snap.has_commit_key(commit_key):
                    return False  # another writer applied this very key
                unsafe = None
                if (bset is not None or by_bucket) and (
                    snap.n_buckets != base.n_buckets
                    or snap.properties.get("bucket_fn") != base.properties.get("bucket_fn")
                ):
                    unsafe = "bucket layout changed"
                elif bset is None:
                    schema = _merge_schemas(snap.schema, schema, self._widening(snap))
                elif snap.schema_json != base.schema_json:
                    unsafe = "schema changed"
                elif any(snap.manifests.get(b) != base.manifests.get(b) for b in bset):
                    unsafe = "overlapping bucket replaced"
                if unsafe:
                    raise CommitConflictError(
                        f"table {self.root}: "
                        f"{'append' if bset is None else 'bucket replacement'} planned "
                        f"against version {base.version} cannot rebase onto "
                        f"{snap.version} ({unsafe}); re-derive from the new current state"
                    )
            # an append's buckets keep their files; replaced buckets drop theirs
            manifests = {b: p for b, p in snap.manifests.items() if b not in (bset or ())}
            for b, fs in by_bucket.items():
                old = snap.files_for([b]) if b in manifests else []
                manifests[b] = self._write_manifest(
                    b, old + fs, f"{commit_id}-r{attempt}" if attempt else commit_id
                )
            wm, recent = snap.advanced_keys(commit_key)
            new_snap = Snapshot(
                version=snap.version + 1,
                schema_json=json.dumps(schema.jsonValue()),
                n_buckets=snap.n_buckets if n_buckets is None else n_buckets,
                key_cols=snap.key_cols,
                manifests=manifests,
                commit_watermarks=wm,
                recent_commit_keys=recent,
                properties={**snap.properties, **(properties or {})},
                feed=feed,
            )
            new_snap._root = self.root
            try:
                self._publish(new_snap)
                return True
            except CommitConflictError:
                if attempt == MAX_REBASES:
                    raise
        raise AssertionError("unreachable")

    def append(self, df: "DataFrame | pa.Table", commit_key: str | None = None) -> bool:
        """Append rows (no key dedup).  Returns False if commit_key already
        applied.  Metadata cost: one new manifest per TOUCHED bucket; the
        rest of the table re-points to its existing manifests.

        ``df`` is a plan (a DataFrame, written by the Spark writer) or rows
        already on the driver (a ``pyarrow.Table``, e.g. from
        ``arrow_rows``, written by the driver writer with no Spark job —
        see ``_write_commit_files``).  Either may be in an older or
        narrower schema: it is conformed to the merged one.  Zero rows
        commit only ``commit_key`` (and any new columns).

        Concurrency: an append's data files are valid against any base
        version, so losing the CAS to a concurrent writer rebases metadata
        only (``_commit``) — no Spark re-execution, no file rewrite.

        Change feed: the new data files are the inserts, referenced by the
        feed without a copy."""
        snap = self.current()
        if commit_key is not None and snap.has_commit_key(commit_key):
            return False
        self.check_bucket_fn(snap)
        schema = _merge_schemas(snap.schema, _schema_of(df), self._widening(snap))
        commit_id = f"c{snap.version + 1}-{uuid.uuid4().hex[:8]}"
        new_files, _ = self._write_commit_files(
            _conform(df, schema), commit_id, snap.n_buckets, snap.key_cols,
            snap.properties,
        )
        feed = [ChangeFile(f.path, INSERT) for f in new_files if f.rows]
        return self._commit(snap, commit_id, commit_key, new_files, feed, schema=schema)

    def overwrite_buckets(
        self,
        df: "DataFrame | pa.Table",
        buckets: list[int],
        commit_key: str | None = None,
        schema: T.StructType | None = None,
        base_version: int | None = None,
        sort_exprs: list | None = None,
        keep_files: dict[int, list["DataFile"]] | None = None,
        properties_update: dict[str, str] | None = None,
        *,
        feed: bool,
        inserted_buckets: Iterable[int] = (),
    ) -> bool:
        """Copy-on-write commit: replace all files of ``buckets`` with ``df``
        (which must contain exactly the surviving rows for those buckets).
        This is the write half of MERGE.  Returns False on duplicate
        commit_key (idempotent replay).  ``buckets=[]`` replaces nothing:
        the commit records only ``commit_key``.

        ``df`` is a plan (the merge, the maintenance rewrites: the Spark
        writer) or rows already on the driver (a ``pyarrow.Table`` in
        ``schema``, plus ``FEED_COL`` when ``feed``: the driver writer,
        no Spark job — the mart fold).  A plan already in its write schema
        (``schema``, then ``FEED_COL`` when ``feed``, then ``BUCKET_COL``
        when it carries one — the merge's ``feed_frame``) goes to the
        writer as is: no projection, and no second bucket hash or
        exchange.  ``sort_exprs`` applies to a plan only.

        ``base_version`` is the snapshot version the caller DERIVED ``df``
        from (merge read the bucket contents there; compaction listed its
        files there).  Passing it anchors both the CAS and the rebase
        validation to the true derivation base — without it, a commit
        landing between the caller's read and this call would pass the CAS
        and be silently clobbered.  Callers that read and commit in one
        breath may omit it (the entry-time ``current()`` is then the base).

        Concurrency: a lost CAS rebases metadata-only when the interleaved
        commits touched none of ``buckets`` and kept the schema and layout
        (``_commit``), else raises ``CommitConflictError``.  So a background
        compactor can run against a live streaming merge without re-running
        Spark.

        ``sort_exprs``: clustering expressions replacing the declared
        ``sort_cols`` for this commit only (the z-order rewrite path).

        ``keep_files``: FILE-granular replacement — for each replaced
        bucket, these existing DataFiles are carried into the new
        manifest unchanged (not rewritten, not deleted); ``df`` must then
        hold the surviving rows of the bucket's OTHER files only.  The
        caller owns the exactness argument (e.g. a range delete keeps
        exactly the files whose bounds exclude the range).  Conflict
        granularity stays the bucket — kept files ride in the bucket's
        rewritten manifest.

        ``properties_update``: table properties merged into the published
        snapshot and used to write this commit's files (e.g. z-order
        promoting its columns into ``stats_cols``).  Rides the same CAS;
        keys not listed keep their current values.

        ``feed`` (required — every commit states what it changed):
        ``True`` when ``df`` carries the change feed next to the new rows,
        tagged in ``FEED_COL``: NULL for a row of the new bucket contents,
        ``INSERT``/``DELETE`` for a feed row (build such a frame with
        ``feed_frame``); the feed must be net — no row both inserted and
        deleted — and it is written by the same job as the data.
        ``False`` when ``df`` holds only the new rows: a row-preserving
        rewrite (compaction, z-order) then records an empty feed.
        ``inserted_buckets``: buckets that held no row at the base, so
        every new row in them is an insert — their new data files are
        referenced by the feed instead of copied (the caller leaves their
        INSERT rows out of ``df``)."""
        snap = (
            self.snapshot(base_version) if base_version is not None else self.current()
        )
        if commit_key is not None and self.current().has_commit_key(commit_key):
            return False
        self.check_bucket_fn(snap)
        if schema is None:
            schema = _merge_schemas(snap.schema, _schema_of(df), self._widening(snap))
        commit_id = f"c{snap.version + 1}-{uuid.uuid4().hex[:8]}"
        wcols = schema.fields + ([T.StructField(FEED_COL, T.StringType())] if feed else [])
        if isinstance(df, DataFrame) and BUCKET_COL in df.columns:
            wcols.append(T.StructField(BUCKET_COL, T.IntegerType()))
        new_files, changes = self._write_commit_files(
            _conform(df, T.StructType(wcols)), commit_id, snap.n_buckets, snap.key_cols,
            {**snap.properties, **(properties_update or {})}, sort_exprs=sort_exprs,
        )
        ins = set(inserted_buckets)
        changes += [ChangeFile(f.path, INSERT) for f in new_files
                    if f.bucket in ins and f.rows]
        bset = set(buckets)
        stray = sorted({f.bucket for f in new_files} - bset)
        if stray:
            # a row landing outside the replace-set would shadow live data
            raise ValueError(f"overwrite produced rows in unreplaced buckets {stray}")
        outside = sorted(set(keep_files or ()) - bset)
        if outside:
            raise ValueError(f"keep_files bucket {outside[0]} outside replace-set")
        return self._commit(
            snap, commit_id, commit_key, new_files, changes, replace=bset,
            keep_files=keep_files, schema=schema, properties=properties_update,
        )


# ``feed_frame`` output kind of a row of the new bucket contents
ROW = None


def outputs(*kinds: str | None) -> Column:
    """A ``feed_frame`` outputs array of ROW, INSERT and DELETE entries."""
    if not kinds:
        return F.array().cast("array<string>")
    return F.array(*[F.lit(k).cast("string") for k in kinds])


def feed_frame(
    df: DataFrame,
    schema: T.StructType,
    out: Column,
    new: dict[str, Column] | None = None,
) -> DataFrame:
    """The ``overwrite_buckets(feed=True)`` frame: each row of ``df`` is
    exploded into the kinds listed in ``out`` (an ``outputs`` array): ROW
    (a row of the new bucket contents), INSERT and DELETE (change-feed
    rows).  ``new`` maps ``schema`` columns to post-image expressions
    over ``df``: ROW and INSERT take them, DELETE the stored column.  Only
    those columns are projected per kind; every other ``schema`` column
    is selected by name, so a row that is only kept costs one
    one-element array.  The frame is in its write schema: ``schema``'s
    columns, then ``FEED_COL``, then ``BUCKET_COL`` when ``df`` carries
    it (the merge's ranked rows), which the writer then writes on."""
    new = new or {}
    x = F.col(FEED_COL)
    cols = [F.when(x == DELETE, F.col(c)).otherwise(new[c]).alias(c) if c in new else c
            for c in schema.fieldNames()]
    cols.append(FEED_COL)
    if BUCKET_COL in df.columns:
        cols.append(BUCKET_COL)
    return df.withColumn(FEED_COL, F.explode(out)).select(*cols)


def _schema_of(df: "DataFrame | pa.Table") -> T.StructType:
    """The Spark schema of a plan or of driver rows.  An Arrow table's
    types map back the way ``to_arrow_type`` maps them out: a zoned
    timestamp is ``timestamp``, a naive one ``timestamp_ntz``."""
    if isinstance(df, DataFrame):
        return df.schema
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(df.schema, prefer_timestamp_ntz=True)


def _conform(df: "DataFrame | pa.Table", schema: T.StructType) -> "DataFrame | pa.Table":
    """Project ``df`` onto ``schema``'s column order, adding NULLs for
    missing columns and casting widened ones up — a plan as a plan, driver
    rows (a ``pyarrow.Table``) as an Arrow table.  A plan whose column
    names and types already equal ``schema``'s is returned unchanged (a
    frame built in its write schema, e.g. by ``feed_frame``)."""
    if not isinstance(df, DataFrame):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        cols = []
        for f in schema.fields:
            typ = to_arrow_type(f.dataType)
            if f.name not in df.column_names:
                cols.append(pa.nulls(df.num_rows, typ))
            else:
                c = df.column(f.name)
                cols.append(c if c.type == typ else c.cast(typ))
        return pa.table(cols, names=schema.fieldNames())
    have = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    if have == [(f.name, f.dataType.simpleString()) for f in schema.fields]:
        return df
    types = dict(have)
    # cast only on real type mismatch; Spark 4 rejects casts between array
    # types differing only in containsNull
    return df.select(*[
        F.col(f.name) if types.get(f.name) == f.dataType.simpleString()
        else (F.col(f.name) if f.name in types else F.lit(None)).cast(f.dataType).alias(f.name)
        for f in schema.fields
    ])


def arrow_rows(schema: T.StructType, columns: list[list] | None = None) -> "pa.Table":
    """In-process values as one Arrow table: ``columns`` holds one value
    list per field of ``schema`` (None: zero rows), typed by
    ``to_arrow_type``.  This is the form ``append`` and
    ``overwrite_buckets`` take rows already on the driver in.  A
    ``timestamp`` value must be an aware datetime (Arrow reads a naive one
    as UTC); a ``timestamp_ntz`` value is a wall clock.  A value the Arrow
    type cannot hold raises ``TypeError``, ``ValueError`` or
    ``OverflowError``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if columns is None:
        columns = [[] for _ in schema.fields]
    arrays = [pa.array(list(vals), type=to_arrow_type(f.dataType))
              for f, vals in zip(schema.fields, columns)]
    return pa.table(arrays, names=schema.fieldNames())


def _local_frame(
    spark: SparkSession, schema: T.StructType, columns: "list[list] | pa.Table | None" = None
) -> DataFrame:
    """A DataFrame over in-process values: ``columns`` is an Arrow table
    in ``schema``, or value lists for ``arrow_rows``.  Spark takes the
    Arrow table as a local relation: building it runs no Spark job and no
    Python worker, and a projection or filter over it folds into the
    relation, so collecting one runs no job either
    (``createDataFrame(list)`` runs two jobs through a Python worker)."""
    import pyarrow as pa

    rows = columns if isinstance(columns, pa.Table) else arrow_rows(schema, columns)
    return spark.createDataFrame(rows, schema)


def scan(
    paths: list[str], schema: T.StructType, filter=None, batch_size: int = 1 << 17
) -> "ds.Scanner":
    """One ``pyarrow.dataset`` scan of stored files under ``schema`` — the
    driver- and task-side twin of ``spark.read.schema(...)``: every file
    is conformed by the scan (absent column -> typed NULLs, narrow type
    -> cast up), columns are pruned at the reader, and ``filter`` (a
    ``pyarrow.dataset`` expression) is applied to the rows.  The
    co-located join's kernel and the mart fold read through it."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_type

    aschema = pa.schema([(f.name, to_arrow_type(f.dataType)) for f in schema.fields])
    return ds.dataset(paths, schema=aschema, format="parquet").scanner(
        columns=aschema.names, filter=filter, batch_size=batch_size,
    )
