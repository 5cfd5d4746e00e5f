"""The two workloads.  Each one has the same life cycle, driven by run.py:

``prepare``  build the seeded inputs and preload the tables — part of set-up;
``warm``     run the measured code paths once on the real tables (JIT,
             Python worker fork) — part of set-up;
``measure``  the timed closed loop; it returns a ``Phase`` with one record
             per operation;
``summarize`` the phase's end-to-end numbers, each a median within one kind
             of operation, plus the figures logged beside them;
``check``    untimed correctness gates; returns the number of operations
             whose answer was wrong.

All inputs derive from ``cdc.generator`` under the run's seed, except
``curation_queries``, which reads fixed tables shipped in ``data/``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

# input sizes per profile: "full" is sized for a 4-core / 15 GB machine, where
# a stream_tail run takes about 70 s and a curation_queries run about 50 s,
# over half of it JVM start and warm-up; "tiny" is the smoke-check size
SIZES = {
    "full": {
        "stream_preload_keys": 100_000, "stream_file_events": 500, "stream_file_rows": 4_000,
        "lookups_per_phase": 8, "query_passes_min": 4,
    },
    "tiny": {
        "stream_preload_keys": 2_000, "stream_file_events": 100, "stream_file_rows": 200,
        "lookups_per_phase": 4, "query_passes_min": 1,
    },
}

# one entry per operator family: LWW snapshot, exact dedup, MinHash
# similarity (no DuckDB oracle: checked against a golden) and PII redaction
CURATION_QUERIES = ["cdc_lww_snapshot", "exact_dedup_docs", "minhash_near_dups", "pii_redaction"]
CURATION_TABLES = ["events", "documents", "customer"]
# input tables each query reads (for rows processed per second)
CURATION_INPUTS = {
    "cdc_lww_snapshot": ["events"], "exact_dedup_docs": ["documents"],
    "minhash_near_dups": ["documents"], "pii_redaction": ["customer"],
}


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool = True


@dataclass
class Phase:
    ops: list[Op] = field(default_factory=list)
    window_s: float = 0.0
    events: int = 0  # input records consumed in the window
    ingest_s: float = 0.0  # the part of the window spent consuming them, if not all of it
    info: dict = field(default_factory=dict)

    def times(self, kind: str) -> list[float]:
        return [o.ms for o in self.ops if o.kind == kind and o.ok]


def med(xs: list[float]) -> float:
    """Median; 0 for an empty sample, which only a run with failed
    operations has, and such a run is reported incorrect anyway."""
    return statistics.median(xs) if xs else 0.0


def delivered_rows(path: str) -> int:
    """Exact row count of a delivery directory, from the Parquet footers."""
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def state_digest(df) -> tuple[int, int]:
    """(row count, order-insensitive hash over all columns) of a state
    frame; columns are taken in name order so schemas built in different
    orders compare equal."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in sorted(df.columns)]
    r = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()
    return int(r[0]), int(r[1] or 0)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if v != v else round(v, 9)
    if type(v).__name__ == "Decimal":
        return format(v, "f")
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def rowset(rows, cols: list[str]) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def rowset_digest(rs: list) -> str:
    return hashlib.sha256("\n".join(repr(r) for r in rs).encode()).hexdigest()


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.size = SIZES[ctx.size]
        self.dir = os.path.join(ctx.work, self.name)
        os.makedirs(self.dir, exist_ok=True)

    @property
    def spark(self):
        return self.ctx.spark

    def params(self) -> dict:
        return {}


# ---------------------------------------------------------------- stream_tail
OP_PRI = {"c": 0, "r": 1, "u": 2, "d": 3}


def _order(ev: dict) -> tuple:
    return (ev["lsn"], ev["ts_ms"] or 0, OP_PRI.get(ev["op"], 0))


class StreamTail(Workload):
    """Streaming tail with online reads.  Each phase lands a backlog of
    small delivery files and ``start_cdc_stream`` drains it, one file per
    trigger, with lineage, an aggregate mart and rolling maintenance,
    against a sink preloaded with >= 10^5 live keys.  After the drain the
    client serves point lookups through ``read_state(where_in=)`` — 1-key
    and 32-key probes over hot, cold, deleted and never-seen keys — on the
    snapshot the drain published; the sink is bloom-indexed on ``doc_id``
    and ``target_file_rows`` splits each bucket into several files, so the
    lookups exercise bucket probing and file skipping.

    Set-up merges the preload directly and drains WARM_FILES small files;
    the measured phase then drains a backlog of FILES_PER_PHASE files."""

    name = "stream_tail"
    WARM_FILES = 1
    # batch ids: 0..WARM_FILES-1 are the warm-up, then FILES_PER_PHASE in
    # the phase; maintenance runs on batch b when (b + 1) % every == 0, so
    # with every == FILES_PER_PHASE the phase holds exactly one maintenance
    # trigger, reported apart from the plain ones
    FILES_PER_PHASE = 3
    MAINTENANCE_EVERY = FILES_PER_PHASE
    N_BUCKETS = 16  # start_cdc_stream's default
    LOG_STRIDE = 10_000_000  # LSN offset between the generated logs

    def params(self):
        s = self.size
        return {"preload_keys": s["stream_preload_keys"], "file_events": s["stream_file_events"],
                "warm_files": self.WARM_FILES, "files_per_phase": self.FILES_PER_PHASE,
                "dup_pct": 5, "maintenance_every": self.MAINTENANCE_EVERY,
                "max_files_per_trigger": 1, "n_buckets": self.N_BUCKETS,
                "target_file_rows": s["stream_file_rows"], "bloom_cols": ["doc_id"],
                "lookups_per_phase": s["lookups_per_phase"], "probe_keys": [1, 1, 1, 32]}

    def _boot(self):
        """``preload_keys`` distinct live keys: the generator's rows re-keyed
        to ``doc_<lsn+1>`` as creates (deterministic, so the oracle
        regenerates it instead of storing it).  Short token lists keep the
        copy-on-write of touched buckets from dominating a trigger."""
        from pyspark.sql import functions as F

        from ton_etl_spark.cdc.generator import generate_cdc_log

        n = self.size["stream_preload_keys"]
        return (
            generate_cdc_log(self.spark, n, n_docs=n, seed=self.ctx.seed, max_tokens=16)
            .withColumn("doc_id", F.concat(F.lit("doc_"), F.col("lsn") + 1))
            .withColumn("op", F.lit("c"))
            .withColumn("tokens", F.coalesce(F.col("tokens"), F.sequence(F.lit(1), F.lit(8))))
            .withColumn("n_tok", F.size(F.col("tokens")))
            .withColumn("extra_meta", F.lit(None).cast("string"))
        )

    def _tail(self, k: int, n_files: int):
        """Backlog ``k`` (1-based): ``n_files`` delivery files of the seeded
        log, every event in the evolved schema so the files are alike.  Its
        LSNs and timestamps continue the earlier logs', so its updates win."""
        from pyspark.sql import functions as F

        from ton_etl_spark.cdc.generator import generate_cdc_log

        n_events, offset = n_files * self.size["stream_file_events"], k * self.LOG_STRIDE
        log = generate_cdc_log(self.spark, n_events, n_docs=self.size["stream_preload_keys"],
                               seed=self.ctx.seed + k, evolve_frac=0.0)
        return log.withColumn("lsn", F.col("lsn") + offset).withColumn(
            "ts_ms", F.col("ts_ms") + offset * 13
        )

    def _write(self, name: str, log, n_files: int, dup_pct: int) -> list[str]:
        from ton_etl_spark.cdc.generator import write_cdc_log

        # an evolved-only log fills the second half of the delivery groups
        dirs = write_cdc_log(log, os.path.join(self.paths["staging"], name),
                             n_batches=2 * n_files, dup_pct=dup_pct,
                             seed=self.ctx.seed, files_per_batch=1)
        if len(dirs) != n_files:
            raise RuntimeError(f"{name}: expected {n_files} delivery files, got {dirs}")
        return dirs

    def _land_and_drain(self, dirs: list[str], ph=None) -> float:
        for d in dirs:
            dst = os.path.join(self.paths["landing"], os.path.relpath(d, self.paths["staging"]))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(d, dst)
            self.landed.append(dst)
        return self._drain(ph)

    def _drain(self, ph=None) -> float:
        from ton_etl_spark.cdc import stream as S

        paths = self.paths
        t0 = time.perf_counter()
        q = S.start_cdc_stream(
            self.spark, os.path.join(paths["landing"], "*", "phase=*", "__seq=*"), paths["sink"],
            paths["checkpoint"], lineage_root=paths["lineage"], n_buckets=self.N_BUCKETS,
            max_files_per_trigger=1, maintenance_every=self.MAINTENANCE_EVERY,
            mart_root=paths["mart"],
        )
        try:
            q.awaitTermination()
        finally:
            elapsed = time.perf_counter() - t0
            progress = [json.loads(p.json) for p in q.recentProgress]
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in progress if p.get("numInputRows", 0) > 0]
        self.triggers += len(progress)
        if ph is not None:
            ph.info["progress"] = progress
            every = self.MAINTENANCE_EVERY
            ph.ops.extend(
                Op("commit" if (p["batchId"] + 1) % every else "commit.maintenance",
                   float(p["durationMs"]["triggerExecution"]))
                for p in progress
            )
        return elapsed

    def _lookup(self, ph=None):
        """One probe of the plan; its answer is kept for the oracle check."""
        from ton_etl_spark.cdc.apply import read_state

        keys = self.plan[self.next_probe % len(self.plan)]
        self.next_probe += 1
        ts = time.perf_counter()
        ok, df, rows = True, None, []
        with self.ctx.tracer.span("lookup", keys=len(keys)):
            try:
                df = read_state(self.table, where_in={"doc_id": keys})
                rows = [r.asDict() for r in df.collect()]
            except Exception as exc:
                ok = False
                self.ctx.log(f"lookup failed: {exc!r}")
        self.answers.append((keys, len(self.landed), rows, ok))
        if ph is None:
            return
        kind = "lookup.1" if len(keys) == 1 else "lookup.n"
        ph.ops.append(Op(kind, (time.perf_counter() - ts) * 1000.0, ok))
        if self.ctx.tracer.enabled and df is not None:
            ph.info["files"].append((len(df.inputFiles()), len(self.table.current().files)))

    def _plan(self):
        """The probe sequence: 1-key probes cycling through the hot, cold,
        deleted and never-seen pools of the state after the warm-up, and
        every fourth probe a 32-key one that takes 8 keys from each pool."""
        from pyspark.sql import functions as F

        from ton_etl_spark.cdc.apply import read_state

        seed = self.ctx.seed
        live = [r[0] for r in read_state(self.table).select("doc_id").collect()]
        dead = [r[0] for r in self.table.read().where(F.col("op") == "d")
                .select("doc_id").orderBy("doc_id").collect()]
        live.sort(key=lambda k: int(k.split("_")[1]))  # generator ids are doc_<rank>
        pools = {
            "hot": live[: max(4, len(live) // 1000)],
            "cold": live[len(live) // 2 :],
            "deleted": dead or live[:1],
            "unseen": [f"doc_x{seed}_{i}" for i in range(1000)],
        }
        classes = ["hot", "cold", "deleted", "unseen"]
        rng = random.Random(seed)
        plan = []
        for i in range(1000):
            if i % 4 != 3:
                plan.append([rng.choice(pools[classes[(i - i // 4) % 4]])])
            else:  # 8 distinct keys per pool (fewer if a tiny pool has fewer)
                plan.append(sorted({k for c in classes
                                    for k in rng.sample(pools[c], min(8, len(pools[c])))}))
        return plan

    def prepare(self):
        from ton_etl_spark.cdc.apply import make_sequences_table
        from ton_etl_spark.lake.incremental import make_agg_mart, rebuild_agg_mart
        from ton_etl_spark.lake.merge import merge_lww

        p = self.params()
        self.paths = {k: os.path.join(self.dir, k) for k in
                      ("sink", "lineage", "mart", "checkpoint", "landing", "staging")}
        with self.ctx.timed("preload_s"):
            # the sink's read layout is fixed at creation; start_cdc_stream
            # then opens the existing table.  The mart is built once, so the
            # first trigger refreshes it incrementally.
            self.table = make_sequences_table(
                self.spark, self.paths["sink"], n_buckets=self.N_BUCKETS,
                target_file_rows=p["target_file_rows"], bloom_cols=p["bloom_cols"],
            )
            merge_lww(self.table, self._boot(), commit_key="preload")
            mart = make_agg_mart(self.spark, self.paths["mart"], group_cols=["source"])
            rebuild_agg_mart(mart, self.table)
        with self.ctx.timed("generator_s"):
            self.warm_dirs = self._write("warm", self._tail(1, self.WARM_FILES),
                                         self.WARM_FILES, dup_pct=5)
            self.backlog = self._write("tail", self._tail(2, self.FILES_PER_PHASE),
                                       self.FILES_PER_PHASE, dup_pct=5)
        self.landed, self.triggers = [], 0
        self.answers, self.next_probe = [], 0  # answers: (keys, dirs landed, rows, ok)

    def warm(self):
        # drain the warm-up files and serve a few lookups before the
        # window: the stream, merge, mart refresh, maintenance and read
        # path run on the real tables
        self._land_and_drain(self.warm_dirs)
        self.plan = self._plan()
        for _ in range(4):
            self._lookup()

    def measure(self, seconds: float) -> Phase:
        ph = Phase(info={"files": []})
        dirs = self.backlog
        ph.events = sum(delivered_rows(d) for d in dirs)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("stream.drain"):
            try:
                ph.ingest_s = self._land_and_drain(dirs, ph)
            except Exception as exc:
                self.ctx.log(f"stream failed: {exc!r}")
                ph.ops.extend(Op("commit", 0.0, False) for _ in dirs)
                ph.ingest_s = time.perf_counter() - t0
        n = 0
        while n < self.size["lookups_per_phase"] or time.perf_counter() - t0 < seconds:
            self._lookup(ph)
            n += 1
        ph.window_s = time.perf_counter() - t0
        return ph

    def summarize(self, ph: Phase) -> dict:
        """events_per_s: delivered events per second of the drain;
        op_p50_ms: median plain trigger (triggerExecution), the maintenance
        trigger logged apart; read_p50_ms: median 1-key lookup."""
        from harness import pct

        plain, one, many = ph.times("commit"), ph.times("lookup.1"), ph.times("lookup.n")
        return {
            "events_per_s": ph.events / ph.ingest_s, "op_p50_ms": med(plain),
            "read_p50_ms": med(one), "commit_p50_ms": med(plain), "commits": len(plain),
            "maintenance_commit_ms": ph.times("commit.maintenance"),
            "lookup_p50_ms": med(one), "lookup_p90_ms": pct(one, 90) if one else 0.0,
            "lookups_1key": len(one), "lookup_32key_p50_ms": med(many), "lookups_32key": len(many),
        }

    def _events(self):
        """The preload and every delivered event, tagged ``__c`` with 0 for
        the preload and the 1-based landing position of its delivery
        directory otherwise."""
        from pyspark.sql import functions as F

        from ton_etl_spark.cdc.schema import CDC_EVENT_SCHEMA_EVOLVED

        events = self._boot().withColumn("__c", F.lit(0))
        for i, d in enumerate(self.landed):
            w = self.spark.read.schema(CDC_EVENT_SCHEMA_EVOLVED).parquet(d)
            events = events.unionByName(w.withColumn("__c", F.lit(i + 1)))
        return events

    def check(self) -> int:
        from pyspark.sql import functions as F

        from ton_etl_spark.cdc.apply import final_state_oracle, read_state
        from ton_etl_spark.lake.incremental import make_agg_mart, recompute_agg_mart

        events = self._events()
        got = state_digest(read_state(self.table))
        want = state_digest(final_state_oracle(events.drop("__c")))
        state_ok = got == want
        self.ctx.gate("stream_tail state == final_state_oracle", state_ok, f"{got} vs {want}")

        mart = make_agg_mart(self.spark, self.paths["mart"], group_cols=["source"]).read()
        cols = ["source", "n_docs", "n_tok_sum"]
        m_got = sorted(tuple(r) for r in mart.select(*cols).collect())
        m_want = sorted(
            tuple(r) for r in recompute_agg_mart(self.table, ["source"]).select(*cols).collect()
        )
        mart_ok = m_got == m_want
        self.ctx.gate("stream_tail mart == recompute_agg_mart", mart_ok, f"{m_got} vs {m_want}")

        # each lookup against the LWW winner of the preload and the events
        # landed before it
        keys = sorted({k for a in self.answers for k in a[0]})
        by_key: dict[str, list[dict]] = {}
        for r in events.where(F.col("doc_id").isin(keys)).collect():
            by_key.setdefault(r["doc_id"], []).append(r.asDict())
        wrong_lookups = 0
        for ks, visible, rows, ok in self.answers:
            if not ok:
                continue
            want_rows = {}
            for k in ks:
                evs = [e for e in by_key.get(k, []) if e["__c"] <= visible]
                if evs:
                    win = max(evs, key=_order)
                    if win["op"] != "d":
                        want_rows[k] = win
            got_rows = {r["doc_id"]: r for r in rows}
            wrong_lookups += not (set(got_rows) == set(want_rows) and all(
                got_rows[k][c] == want_rows[k][c] for k in got_rows for c in got_rows[k]
            ))
        self.ctx.gate("stream_tail lookups == oracle state at their snapshot", wrong_lookups == 0,
                      f"{wrong_lookups} wrong of {len(self.answers)}")
        # a wrong table or mart makes every trigger's commit wrong
        return wrong_lookups + (0 if state_ok and mart_ok else self.triggers)


# ---------------------------------------------------------------- curation_queries
class CurationQueries(Workload):
    """A fixed set of ``plans.queries`` curation and dedup entries over the
    shipped tables; each result checked against its DuckDB oracle or, for
    rows-only entries, a recorded count-and-hash golden."""

    name = "curation_queries"
    WARM_PASSES = 6

    def params(self):
        return {"queries": CURATION_QUERIES, "tables": CURATION_TABLES,
                "data": "perfbench/data (sf0.01 tables; the seed selects nothing)"}

    def warm(self):
        # the first pass compiles and forks Python workers; the JIT keeps
        # speeding every query up for several passes more (minhash went
        # 1.07 s -> 0.60 s over passes 3-14), and measuring right after two
        # warm passes made the suite vary 1.6x between runs
        for _ in range(self.WARM_PASSES):
            for q in CURATION_QUERIES:
                self._run(q)

    def _run(self, name):
        from ton_etl_spark.plans.queries import QUERIES

        df = QUERIES[name](self.spark, self.data)
        return df.columns, df.collect()

    def prepare(self):
        self.data = os.path.join(self.dir, "data")
        os.makedirs(self.data, exist_ok=True)
        with self.ctx.timed("generator_s"):
            for t in CURATION_TABLES:
                shutil.copyfile(os.path.join(HERE, "data", f"{t}.parquet"),
                                os.path.join(self.data, f"{t}.parquet"))
        rows = {t: pq.ParquetFile(os.path.join(self.data, f"{t}.parquet")).metadata.num_rows
                for t in CURATION_TABLES}
        self.input_rows = {q: sum(rows[t] for t in CURATION_INPUTS[q]) for q in CURATION_QUERIES}
        self.results: dict[str, list] = {}

    def measure(self, seconds: float) -> Phase:
        ph = Phase(info={"input_rows": sum(self.input_rows.values())})
        t0 = time.perf_counter()
        passes = 0
        while passes < self.size["query_passes_min"] or time.perf_counter() - t0 < seconds:
            for q in CURATION_QUERIES:
                ts = time.perf_counter()
                ok = True
                with self.ctx.tracer.span(f"query.{q}"):
                    try:
                        cols, rows = self._run(q)
                    except Exception as exc:
                        ok, cols, rows = False, [], []
                        self.ctx.log(f"query {q} failed: {exc!r}")
                ms = (time.perf_counter() - ts) * 1000.0
                ph.ops.append(Op(f"query.{q}", ms, ok))
                if ok:
                    self.results.setdefault(q, []).append((cols, rows))
            passes += 1
        ph.window_s = time.perf_counter() - t0
        ph.info["passes"] = passes
        return ph

    @staticmethod
    def summarize(ph: Phase) -> dict:
        """Per-query medians over the passes.  op_p50_ms: their sum, one
        suite pass (query_suite_s); read_p50_ms: their median;
        events_per_s: input rows of a suite pass per second of it."""
        per_q = {q: med(ph.times(f"query.{q}")) for q in CURATION_QUERIES}
        suite_ms = sum(per_q.values())
        return {
            "events_per_s": ph.info["input_rows"] / (suite_ms / 1000.0) if suite_ms else 0.0,
            "op_p50_ms": suite_ms, "read_p50_ms": med(list(per_q.values())),
            "query_suite_s": suite_ms / 1000.0, "suite_passes": ph.info["passes"],
            "query_p50_ms": per_q,
        }

    def check(self) -> int:
        import duckdb

        from ton_etl_spark.plans.queries import ORACLES

        with open(os.path.join(HERE, "goldens.json")) as fh:
            goldens = json.load(fh)
        con = duckdb.connect()
        try:
            for t in CURATION_TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            wrong = 0
            for q in CURATION_QUERIES:
                if q in ORACLES:
                    res = con.sql(ORACLES[q])
                    want = ("rows", rowset(res.fetchall(), res.columns))
                else:
                    want = ("golden", goldens[q])
                for cols, rows in self.results.get(q, []):
                    rs = rowset(rows, cols)
                    if want[0] == "rows":
                        good = rs == want[1]
                    else:
                        good = [len(rs), rowset_digest(rs)] == want[1]
                    wrong += not good
                    self.ctx.gate(f"curation {q} == {want[0]}", good, q)
        finally:
            con.close()
        return wrong


WORKLOADS = {w.name: w for w in (StreamTail, CurationQueries)}
