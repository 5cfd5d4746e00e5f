"""Command-line entry points — the operational parity layer.

The reference is run as processes (`python parser/main.py`, the datalake
exporter, the Airflow-triggered sync — parser/main.py:24-44 env-driven
boot).  This engine is a library first, but a deployment needs runnable
entry points; `python -m ton_etl_spark <cmd>` provides them:

  replay        batch-replay a delivery schedule into a lake table
  stream        run the Structured Streaming tail (file source) once
                (availableNow) with optional lineage/mart/maintenance
  multi-stream  one envelope stream fanned out to several tables
  maintain      compaction / tombstone GC / snapshot expiry
  oracle-check  recompute the one-pass oracle and diff it against the
                table state (the operational replay-equality check)
  describe      table metadata: version, layout, file counts, stats
                coverage and optional per-column [min, max] bounds
  export        symlink manifest + Hive DDL + DuckDB view of a snapshot
  tag           named snapshot refs (pin/move/delete/list)
  metrics       Prometheus exposition of ingest gauges (one-shot print
                or an HTTP /metrics server — the prometheus_exporter
                process analog)

Every command builds its session via ``session.get_spark`` (honors
``SPARK_MASTER`` env; local[*] default) — under spark-submit the master
comes from the submit flags, matching the north rule's
``spark-submit --py-files`` deployment."""

from __future__ import annotations

import argparse
import json
import os
import sys


def _probe_lists(text: str, flag: str) -> dict:
    """Parse a ``{"col": [values...]}`` probe flag (``lookup --in``,
    ``maintain --delete-in``/``--update-in``).  A scalar string value
    would be iterated character by character and probe, delete or update
    the wrong keys, so any other shape exits."""
    probes = json.loads(text)
    if not isinstance(probes, dict) or not all(
        isinstance(v, list) for v in probes.values()
    ):
        raise SystemExit(f'{flag} must be a JSON object of {{"col": [values...]}}')
    return probes


def _ranges(text: str, flag: str) -> dict:
    """Parse a ``{"col": [lo, hi]}`` range flag (``maintain
    --delete-where``/``--update-where``; inclusive bounds, null for an
    open end).  Any other shape exits instead of failing in the unpack."""
    ranges = json.loads(text)
    if not isinstance(ranges, dict) or not all(
        isinstance(v, list) and len(v) == 2 for v in ranges.values()
    ):
        raise SystemExit(f'{flag} must be a JSON object of {{"col": [lo, hi]}}')
    return {c: tuple(v) for c, v in ranges.items()}


def _action_key(args, suffix: str) -> str | None:
    """One ``maintain`` action's commit key: ``--commit-key`` plus the
    action's suffix, so each action of a run dedupes on its own key."""
    return f"{args.commit_key}-{suffix}" if args.commit_key else None


def _spark(args):
    from ton_etl_spark.session import get_spark

    # a one-shot CLI command never amortizes the session pre-warm (a few
    # seconds of worker-pool fork + JIT warm jobs that pay off over a
    # long-lived query session); default it off here.  A set
    # SPARK_GRAFT_PY_PREWARM keeps get_spark's rule (on unless "0") for
    # CLI sessions that will run many jobs
    prewarm = None if "SPARK_GRAFT_PY_PREWARM" in os.environ else False
    master = args.master or os.environ.get("SPARK_MASTER") or "local[*]"
    return get_spark(app_name=f"ton_etl_spark.{args.cmd}", master=master, prewarm=prewarm)


def _cmd_replay(args) -> int:
    from ton_etl_spark.cdc.apply import read_state, replay_log_batched

    spark = _spark(args)
    # numeric delivery order (lexicographic would put __seq=10 before
    # __seq=2; the LWW replay converges either way, but lineage epoch
    # numbering should match the delivery schedule)
    dirs = [
        os.path.join(args.log_root, f"phase={p}", f"__seq={s}")
        for p, s in sorted(
            (int(d1.split("=")[1]), int(d2.split("=")[1]))
            for d1 in os.listdir(args.log_root)
            if d1.startswith("phase=")
            for d2 in os.listdir(os.path.join(args.log_root, d1))
            if d2.startswith("__seq=")
        )
    ]
    table = replay_log_batched(
        spark, dirs, args.table, lineage_root=args.lineage, n_buckets=args.buckets
    )
    print(json.dumps({"cmd": "replay", "epochs": len(dirs), "rows": read_state(table).count()}))
    return 0


def _cmd_stream(args) -> int:
    from ton_etl_spark.cdc.apply import read_state
    from ton_etl_spark.cdc.stream import start_cdc_stream
    from ton_etl_spark.lake.table import LakeTable
    from ton_etl_spark.streaming.observability import (
        attach_metrics_recorder,
        detach_metrics_recorder,
    )

    spark = _spark(args)
    out: dict = {"cmd": "stream"}
    rec = attach_metrics_recorder(spark, args.metrics) if args.metrics else None
    try:
        start_cdc_stream(
            spark,
            log_glob=args.log_glob,
            table_root=args.table,
            checkpoint_dir=args.checkpoint,
            lineage_root=args.lineage,
            n_buckets=args.buckets,
            max_files_per_trigger=args.max_files_per_trigger,
            maintenance_every=args.maintenance_every,
            tombstone_retain_lsn=args.tombstone_retain_lsn,
            mart_root=args.mart,
        ).awaitTermination()
        out["rows"] = read_state(LakeTable.load(spark, args.table)).count()
        if rec is not None:
            # drain: listener delivery is asynchronous; later batches'
            # progress events may still be queued when awaitTermination
            # returns, so wait for quiescence rather than any row count
            out["metrics_rows"] = rec.drain()
            out["metrics_root"] = args.metrics
    finally:
        # the listener lives on the session, which outlives this command
        # in-process: left attached, it would record every later stream
        if rec is not None:
            detach_metrics_recorder(spark, rec)
    print(json.dumps(out))
    return 0


def _cmd_multi_stream(args) -> int:
    from ton_etl_spark.cdc.stream import start_cdc_multi_table_stream

    spark = _spark(args)
    routes = dict(kv.split("=", 1) for kv in args.route)
    q = start_cdc_multi_table_stream(
        spark,
        frames_glob=args.frames_glob,
        table_roots=routes,
        checkpoint_dir=args.checkpoint,
        n_buckets=args.buckets,
        max_files_per_trigger=args.max_files_per_trigger,
        maintenance_every=args.maintenance_every,
    )
    q.awaitTermination()
    print(json.dumps({"cmd": "multi-stream", "tables": sorted(routes)}))
    return 0


def _cmd_maintain(args) -> int:
    from ton_etl_spark.lake.maintenance import (
        compact_small_files,
        delete_where,
        expire_snapshots,
        gc_tombstones,
        rewrite_buckets,
        rewrite_zorder,
    )
    from ton_etl_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    out: dict = {"cmd": "maintain"}
    if args.zorder_if_overlap is not None and not args.zorder:
        # fail on misconfiguration — a silently-ignored gate flag looks
        # like "maintenance ran" while the table never re-clusters.
        # Validate BEFORE any action block: a config error must not leave
        # a half-executed maintenance run behind.
        raise SystemExit("--zorder-if-overlap requires --zorder")
    if args.small_rows is not None and not args.binpack:
        raise SystemExit("--small-rows requires --binpack")
    if args.purge_tombstones and not (args.delete_where or args.delete_in):
        raise SystemExit("--purge-tombstones requires --delete-where/--delete-in")
    if (args.update_where or args.update_in) and not args.update_set:
        raise SystemExit("--update-where/--update-in require --update-set")
    upd_ranges = _ranges(args.update_where, "--update-where") if args.update_where else None
    upd_probes = _probe_lists(args.update_in, "--update-in") if args.update_in else None
    ranges = _ranges(args.delete_where, "--delete-where") if args.delete_where else None
    probes = _probe_lists(args.delete_in, "--delete-in") if args.delete_in else None
    if args.update_set:
        from ton_etl_spark.lake.maintenance import update_where

        if not (args.update_where or args.update_in):
            raise SystemExit("--update-set requires --update-where/--update-in")
        upd_set = json.loads(args.update_set)
        if not isinstance(upd_set, dict) or not all(
            isinstance(v, str) for v in upd_set.values()
        ):
            raise SystemExit('--update-set must be {"col": "sql expr"}')
        out["update"] = update_where(
            t, upd_set, where=upd_ranges, where_in=upd_probes,
            commit_key=_action_key(args, "upd"), file_granular=args.file_granular,
        )
    if args.delete_where or args.delete_in:
        out["delete"] = delete_where(
            t, ranges,
            where_in=probes,
            commit_key=_action_key(args, "del"),
            file_granular=args.file_granular,
            protect_tombstones=not args.purge_tombstones,
        )
    if args.zorder:
        out["zorder"] = rewrite_zorder(
            t, [c.strip() for c in args.zorder.split(",") if c.strip()],
            commit_key=_action_key(args, "z"), if_overlap=args.zorder_if_overlap,
        )
    if args.binpack:
        out["binpack"] = compact_small_files(
            t, small_rows=args.small_rows, commit_key=_action_key(args, "bp"),
        )
    if args.compact:
        out["compact"] = rewrite_buckets(t, commit_key=args.commit_key)
    if args.gc_tombstones_below is not None:
        out["gc"] = gc_tombstones(
            t, args.gc_tombstones_below, commit_key=_action_key(args, "gc"),
        )
    if args.expire_keep_last is not None:
        out["expire"] = expire_snapshots(t, keep_last=args.expire_keep_last)
    print(json.dumps(out))
    return 0


def _cmd_lookup(args) -> int:
    """Online point lookup (reference analog: the per-key SELECT helpers in
    ``parser/db.py:112-256``): bucket-pruned + stats-pruned + bloom-assisted
    via ``LakeTable.read(where_in=)``; rows print as JSON lines.

    On a CDC table (BOTH envelope columns op and lsn present) the view is
    the LIVE STATE — a deleted key returns nothing, matching what the
    reference's SELECTs answer; ``--raw`` switches to storage view
    (tombstones included).  The rule and the detection are shared with
    ``read_state`` (``cdc/apply.live_state`` / ``cdc/schema.is_cdc_schema``)
    so the CLI cannot drift from the library semantics."""
    from ton_etl_spark.cdc.apply import live_state
    from ton_etl_spark.cdc.schema import is_cdc_schema
    from ton_etl_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    df = t.read(where_in=_probe_lists(args.where_in, "--in"))
    if not args.raw and is_cdc_schema(df.schema):
        df = live_state(df)
    if args.columns:
        df = df.select(*[c.strip() for c in args.columns.split(",") if c.strip()])
    rows = df.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


def _cmd_follow(args) -> int:
    """Tail a table's changelog (reference analog: the re-published
    normalized live stream, ``datalake/streaming.py:99-191``).  With
    ``--sink``: exactly-once mirror into an append-only LakeTable
    (``mirror_changes``, interval commit keys).  Without: print one JSON
    line per interval batch (row counts by ``_change_type``).  The file
    cursor makes restarts resume where the last fully-processed interval
    ended; ``--idle-polls`` + ``--poll-interval`` run an operational tail
    that exits after that many consecutive quiet polls."""
    from ton_etl_spark.lake.incremental import (
        follow_changes,
        make_changelog_sink,
        mirror_changes,
    )
    from ton_etl_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    kw = dict(
        cursor_path=args.cursor,
        start_version=args.start_version,
        max_batches=args.max_batches,
        idle_polls=args.idle_polls,
        poll_interval_s=args.poll_interval,
    )
    if args.sink:
        sink = make_changelog_sink(spark, args.sink, t)
        r = mirror_changes(t, sink, **kw)
        out = {"cmd": "follow", "sink": args.sink,
               "sink_rows": sink.read().count(), **r}
    else:

        def _report(ch, fv, tv):
            from pyspark.sql import functions as F

            counts = {row["_change_type"]: row["n"] for row in
                      ch.groupBy("_change_type").agg(
                          F.count(F.lit(1)).alias("n")).collect()}
            print(json.dumps({"interval": [fv, tv],
                              "insert": counts.get("insert", 0),
                              "delete": counts.get("delete", 0)}))

        r = follow_changes(t, _report, **kw)
        out = {"cmd": "follow", **r}
    print(json.dumps(out))
    return 0


def _cmd_describe(args) -> int:
    from ton_etl_spark.lake.maintenance import layout_summary
    from ton_etl_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    snap = t.current()
    files = snap.files
    layout = layout_summary(t, snap)
    stats_cols = layout["stats_columns"]
    out = {
        "cmd": "describe",
        "root": t.root,
        "version": snap.version,
        "n_buckets": snap.n_buckets,
        "key_cols": snap.key_cols,
        "schema_fields": [f.name for f in snap.schema.fields],
        "properties": snap.properties,
        # small_files is the binpack demand signal, dual of --clustering
        # for z-order: sliver files pile up one per append epoch; a high
        # count says schedule maintain --binpack
        **layout,
        "commit_watermarks": snap.commit_watermarks,
        "tags": t.tags(),
    }
    if args.bounds and stats_cols:
        bounds = {}
        for c in stats_cols:
            try:
                bounds[c] = [
                    min(f.stats[c][0] for f in files if f.stats and c in f.stats),
                    max(f.stats[c][1] for f in files if f.stats and c in f.stats),
                ]
            except TypeError:
                # schema evolution can leave mixed-type bounds for one
                # column across commits (e.g. int in old files, str in
                # new); the read path tolerates them, so describe reports
                # null rather than crashing
                bounds[c] = None
        out["bounds"] = bounds
    if args.clustering:
        from ton_etl_spark.lake.maintenance import clustering_overlap

        out["clustering"] = clustering_overlap(t)
    print(json.dumps(out))
    return 0


def _cmd_oracle_check(args) -> int:
    from ton_etl_spark.cdc.apply import final_state_oracle, read_full_log, read_state
    from ton_etl_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    got = read_state(t)
    want = final_state_oracle(read_full_log(spark, args.log_root))
    diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    print(json.dumps({"cmd": "oracle-check", "rows": got.count(), "diff_rows": diff,
                      "equal": diff == 0}))
    return 0 if diff == 0 else 1


def _cmd_tag(args) -> int:
    from ton_etl_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    out = {"cmd": "tag", "root": t.root}
    if args.set is not None:
        out["set"] = args.set
        out["version"] = t.tag(args.set, version=args.version, replace=args.replace)
    if args.delete is not None:
        out["deleted"] = args.delete if t.delete_tag(args.delete) else None
    out["tags"] = t.tags()
    print(json.dumps(out))
    return 0


def _cmd_export(args) -> int:
    from ton_etl_spark.lake.ddl import (
        duckdb_view_sql,
        hive_ddl,
        write_symlink_manifest,
    )
    from ton_etl_spark.lake.table import LakeTable

    spark = _spark(args)
    t = LakeTable.load(spark, args.table)
    manifest = write_symlink_manifest(t, args.out)
    name = args.name or os.path.basename(os.path.normpath(args.table))
    ddl = hive_ddl(t, name, args.location or args.out, state=args.state)
    ddl_path = os.path.join(args.out, f"{name}.ddl.sql")
    with open(ddl_path, "w") as fh:
        fh.write(ddl + "\n")
    duck_path = os.path.join(args.out, f"{name}.duckdb.sql")
    with open(duck_path, "w") as fh:
        fh.write(duckdb_view_sql(t, name, state=args.state) + "\n")
    print(json.dumps({
        "cmd": "export", "version": t.current_version(), "manifest": manifest,
        "hive_ddl": ddl_path, "duckdb_view": duck_path,
    }))
    return 0


def _cmd_metrics(args) -> int:
    """Prometheus exposition over the observability metrics table — the
    reference's standalone exporter process (``prometheus_exporter/
    main.py:15-110``) re-expressed over the lake instead of a Kafka
    consumer: gauges recompute as Spark aggregations per refresh and only
    gauge scalars reach the driver."""
    import time

    from ton_etl_spark.lake.table import LakeTable
    from ton_etl_spark.streaming.exporter import (
        GaugeRegistry,
        start_metrics_server,
        update_delivery_gauges,
        update_performance_gauges,
        update_table_layout_gauges,
    )

    spark = _spark(args)
    t = LakeTable.load(spark, args.metrics_root)
    ev = LakeTable.load(spark, args.events_root) if args.events_root else None
    layout = [
        (root, LakeTable.load(spark, root))
        for root in (args.layout_table or [])
    ]
    # two roots sharing a leaf directory name would collide into ONE
    # {table=...} series (the second silently overwriting the first every
    # refresh); duplicated basenames fall back to the full root as label
    from collections import Counter

    leaf = {root: os.path.basename(root.rstrip("/")) for root, _ in layout}
    dup_leaves = {n for n, c in Counter(leaf.values()).items() if c > 1}
    reg = GaugeRegistry()

    def refresh():
        update_delivery_gauges(reg, t.read(), window_sec=args.window)
        for root, lt in layout:
            # manifest math only; .current() re-reads the pointer, so a
            # long-serving exporter tracks live commits
            update_table_layout_gauges(
                reg, lt,
                label=root if leaf[root] in dup_leaves else leaf[root],
            )
        if ev is not None:
            # the reference's per-family delay gauges (average/p50/p75/
            # p95/tx_count under the `col` label), over the event lake
            update_performance_gauges(
                reg, ev.read(), args.gauge_name,
                documentation="event delay metrics, rolling window",
                delay_col=args.delay_col, ts_col=args.ts_col,
                class_col=args.class_col, interval_sec=args.window,
            )

    refresh()
    if args.serve is None:
        sys.stdout.write(reg.render())
        return 0
    srv, port = start_metrics_server(reg, port=args.serve)
    print(json.dumps({"cmd": "metrics", "port": port, "window_sec": args.window}), flush=True)
    done = 0
    try:
        while args.max_refreshes is None or done < args.max_refreshes:
            time.sleep(args.refresh)
            refresh()  # t.read() re-resolves the current snapshot pointer
            done += 1
    except KeyboardInterrupt:
        pass
    finally:
        srv.shutdown()
        srv.server_close()
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python -m ton_etl_spark")
    p.add_argument("--master", default=None, help="spark master (default: SPARK_MASTER env or local[*])")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("replay", help="batch-replay a delivery schedule")
    r.add_argument("--log-root", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--lineage", default=None)
    r.add_argument("--buckets", type=int, default=16)
    r.set_defaults(fn=_cmd_replay)

    s = sub.add_parser("stream", help="run the streaming tail to completion")
    s.add_argument("--log-glob", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--lineage", default=None)
    s.add_argument("--mart", default=None)
    s.add_argument("--buckets", type=int, default=16)
    s.add_argument("--max-files-per-trigger", type=int, default=2)
    s.add_argument("--maintenance-every", type=int, default=None)
    s.add_argument("--tombstone-retain-lsn", type=int, default=None)
    s.add_argument("--metrics", default=None,
                   help="LakeTable root for per-micro-batch progress metrics "
                        "(streaming/observability.py — the exporter surface)")
    s.set_defaults(fn=_cmd_stream)

    m = sub.add_parser("multi-stream", help="fan one envelope stream out to N tables")
    m.add_argument("--frames-glob", required=True)
    m.add_argument("--route", action="append", required=True,
                   help="TABLE=ROOT mapping; repeatable")
    m.add_argument("--checkpoint", required=True)
    m.add_argument("--buckets", type=int, default=16)
    m.add_argument("--max-files-per-trigger", type=int, default=2)
    m.add_argument("--maintenance-every", type=int, default=None)
    m.set_defaults(fn=_cmd_multi_stream)

    mt = sub.add_parser("maintain", help="compaction / GC / snapshot expiry")
    mt.add_argument("--table", required=True)
    mt.add_argument("--compact", action="store_true")
    mt.add_argument("--binpack", action="store_true",
                    help="bin-pack compaction: coalesce only SMALL files, "
                    "never rewriting well-sized ones (I/O proportional to "
                    "new data, not table size)")
    mt.add_argument("--small-rows", type=int, default=None,
                    help="with --binpack: files under this many rows are "
                    "pack candidates (default: half target_file_rows)")
    mt.add_argument("--gc-tombstones-below", type=int, default=None)
    mt.add_argument("--expire-keep-last", type=int, default=None)
    mt.add_argument("--zorder", default=None, metavar="COL,COL[,...]",
                    help="z-order clustering rewrite on these columns "
                    "(multi-column file skipping; a compaction variant)")
    mt.add_argument("--zorder-if-overlap", type=float, default=None,
                    metavar="FRAC",
                    help="with --zorder: rewrite only when the worst "
                    "per-column clustering overlap over those columns "
                    "exceeds FRAC (demand-driven re-clustering; the "
                    "describe --clustering signal, manifest math only)")
    mt.add_argument("--delete-where", default=None, metavar="JSON",
                    help='stats-pruned range delete, e.g. '
                    '\'{"lsn": [null, 999]}\' (inclusive bounds, null=open)')
    mt.add_argument("--delete-in", default=None, metavar="JSON",
                    help='per-key delete, e.g. \'{"doc_id": [1, 7]}\' '
                    "(GDPR-style; key-covering probes prune to their "
                    "buckets; ANDs with --delete-where). On a CDC table "
                    "the victims' op='d' tombstone rows — payload "
                    "included — are KEPT by default so stale "
                    "redeliveries cannot resurrect them: a compliance "
                    "delete is two steps (this, then "
                    "--gc-tombstones-below once the redelivery horizon "
                    "passes) unless you add --purge-tombstones")
    mt.add_argument("--update-set", default=None, metavar="JSON",
                    help='in-place UPDATE: {"col": "sql expr"}, applied '
                    "to rows matching --update-where/--update-in (e.g. "
                    "compliance redaction: "
                    '\'{"text": "regexp_replace(text, ..., ...)"}\'); '
                    "stats-pruned copy-on-write, key columns not settable")
    mt.add_argument("--update-where", default=None, metavar="JSON",
                    help='with --update-set: inclusive ranges, e.g. '
                    '\'{"lsn": [0, 999]}\'')
    mt.add_argument("--update-in", default=None, metavar="JSON",
                    help='with --update-set: per-key probes, e.g. '
                    '\'{"doc_id": [1, 7]}\' (ANDs with --update-where)')
    mt.add_argument("--purge-tombstones", action="store_true",
                    help="with --delete-where/--delete-in: also drop "
                    "matching op='d' tombstone rows in the SAME pass "
                    "(one-step compliance delete). Only safe once the "
                    "source's redelivery horizon has passed the deleted "
                    "keys/range — earlier, a stale redelivery can "
                    "resurrect the key (the gc_tombstones contract)")
    mt.add_argument("--file-granular", action="store_true",
                    help="with --delete-where: rewrite only the files whose "
                    "bounds intersect the range, carrying the rest unchanged")
    mt.add_argument("--commit-key", default=None)
    mt.set_defaults(fn=_cmd_maintain)

    oc = sub.add_parser("oracle-check", help="diff table state vs the one-pass replay oracle")
    oc.add_argument("--table", required=True)
    oc.add_argument("--log-root", required=True)
    oc.set_defaults(fn=_cmd_oracle_check)

    lk = sub.add_parser(
        "lookup",
        help="point lookup: bucket/stats/bloom-pruned read(where_in=)",
    )
    lk.add_argument("--table", required=True)
    lk.add_argument("--in", dest="where_in", required=True, metavar="JSON",
                    help='probe values per column, e.g. \'{"doc_id": [1, 7]}\' '
                    "(columns AND, values OR; key-covering probes prune to "
                    "their buckets)")
    lk.add_argument("--columns", default=None, metavar="COL,COL[,...]")
    lk.add_argument("--limit", type=int, default=1000)
    lk.add_argument("--raw", action="store_true",
                    help="storage view: include delete tombstones (default "
                    "is the live state — a deleted key returns nothing)")
    lk.set_defaults(fn=_cmd_lookup)

    fw = sub.add_parser(
        "follow",
        help="tail the table changelog: print interval batches, or "
        "--sink for an exactly-once LakeTable mirror",
    )
    fw.add_argument("--table", required=True)
    fw.add_argument("--cursor", required=True,
                    help="cursor file path (crash-safe restart point)")
    fw.add_argument("--sink", default=None,
                    help="mirror LakeTable root; created on first run "
                    "(source schema + _change_type, source keys/buckets)")
    fw.add_argument("--start-version", type=int, default=0)
    fw.add_argument("--max-batches", type=int, default=None,
                    help="stop after N processed intervals (default: "
                    "until idle)")
    fw.add_argument("--idle-polls", type=int, default=1,
                    help="consecutive empty polls before exiting")
    fw.add_argument("--poll-interval", type=float, default=0.0,
                    help="seconds between polls while idle")
    fw.set_defaults(fn=_cmd_follow)

    de = sub.add_parser("describe", help="table metadata: version, layout, file/stats coverage")
    de.add_argument("--table", required=True)
    de.add_argument("--bounds", action="store_true",
                    help="include global [min, max] per stats column")
    de.add_argument("--clustering", action="store_true",
                    help="per-column within-bucket file-bound overlap ratio "
                    "(0 = disjoint/ideal skipping, 1 = every pair overlaps "
                    "— time to rewrite_zorder)")
    de.set_defaults(fn=_cmd_describe)

    ex = sub.add_parser(
        "export",
        help="publish the current snapshot for external engines: symlink "
        "manifest + Athena/Hive DDL + DuckDB view (lake/ddl.py)",
    )
    ex.add_argument("--table", required=True, help="table root")
    ex.add_argument("--out", required=True,
                    help="export directory (manifest + DDL files)")
    ex.add_argument("--name", default=None, help="exported table name")
    ex.add_argument("--location", default=None,
                    help="LOCATION for the Hive DDL (default: out dir)")
    ex.add_argument("--state", action="store_true",
                    help="add the tombstone filter (match read_state)")
    ex.set_defaults(fn=_cmd_export)

    tg = sub.add_parser(
        "tag",
        help="named snapshot refs: pin/move/delete/list (tagged versions "
        "are retained by maintain --expire-keep-last)",
    )
    tg.add_argument("--table", required=True)
    tg.add_argument("--set", metavar="NAME", default=None,
                    help="create NAME at --version (default: current)")
    tg.add_argument("--version", type=int, default=None)
    tg.add_argument("--replace", action="store_true",
                    help="allow --set to move an existing tag")
    tg.add_argument("--delete", metavar="NAME", default=None)
    tg.set_defaults(fn=_cmd_tag)

    me = sub.add_parser(
        "metrics",
        help="Prometheus exposition of ingest gauges from the observability "
        "metrics table (streaming/exporter.py); prints once to stdout, or "
        "serves /metrics with --serve",
    )
    me.add_argument("--metrics-root", required=True,
                    help="root of the MetricsRecorder lake table")
    me.add_argument("--window", type=int, default=300,
                    help="trailing gauge window, seconds of trigger time")
    me.add_argument("--serve", type=int, default=None, metavar="PORT",
                    help="serve HTTP on PORT (0 = pick free) instead of one-shot print")
    me.add_argument("--refresh", type=float, default=5.0,
                    help="seconds between gauge recomputations while serving")
    me.add_argument("--max-refreshes", type=int, default=None,
                    help="stop after N refreshes (tests); default: run forever")
    me.add_argument("--events-root", default=None,
                    help="optional event lake table for per-family delay "
                    "gauges (the reference's performance gauges)")
    me.add_argument("--gauge-name", default="ton_etl_common_operations")
    me.add_argument("--delay-col", default="delay")
    me.add_argument("--ts-col", default="ts")
    me.add_argument("--class-col", default=None,
                    help="event-family column -> `class` label per series")
    me.add_argument("--layout-table", action="append", default=None,
                    metavar="ROOT",
                    help="also expose layout-health gauges for this lake "
                    "table (files/rows/version, bin-pack small_files, "
                    "per-column clustering overlap — manifest math only); "
                    "repeatable")
    me.set_defaults(fn=_cmd_metrics)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv if argv is not None else sys.argv[1:])
    return args.fn(args)
