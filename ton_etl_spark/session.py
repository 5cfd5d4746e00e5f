"""SparkSession factory tuned for the engine.

Local mode is the test harness; the configs are chosen so the same code is
correct on a multi-executor cluster (AQE, skew-join handling, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# application ids whose worker pool / JIT has been pre-warmed
_PREWARMED_APPS: set[str] = set()


def _prewarm_session(spark: SparkSession) -> None:
    """Two generic warm jobs ONCE per application (guide §4.4: heavyweight
    init once, not per job), so the first real job measures computation
    rather than interpreter/JIT startup.  Both run over ``range()`` —
    they touch no input data and compute nothing any query reuses.

    1. Python pool: fork the Arrow workers and import numpy/pandas in
       each.  Round-8 A/B on a 32-core local master: one-shot minhash
       7.1 s -> 4.6 s, dup_clusters 3.4 s -> 2.8 s.
    2. JVM library primitives: one pass of md5 / xxhash64 / the word
       regex + a hash aggregate and a running-sum window, so the JVM has
       JIT-compiled the regex/digest/agg/window machinery every workload
       shares.  Round-8 A/B: one-shot exact_dedup_docs 1.7 s -> 0.5 s
       (its entire one-shot overhead was java.util.regex + MD5 warmup).
    3. Join/sort/limit machinery: a broadcast hash join, a sort-merge
       join, a TakeOrderedAndProject and an explode over the same tiny
       range tables, warming the broadcast relation build, the external
       sorter, shuffle read/write and Generate paths that every
       join-shaped query hits first.

    Disable with SPARK_GRAFT_PY_PREWARM=0 (the test suite does: its many
    short-lived sessions never amortize the warm)."""
    app_id = spark.sparkContext.applicationId
    if app_id in _PREWARMED_APPS:
        return
    _PREWARMED_APPS.add(app_id)
    try:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        n = spark.sparkContext.defaultParallelism

        def _import_heavy(batches):
            import numpy  # noqa: F401
            import pandas  # noqa: F401

            for b in batches:
                yield b

        spark.range(n, numPartitions=n).mapInArrow(_import_heavy, "id long").count()

        staged = spark.range(100_000, numPartitions=n).select(
            F.col("id"),
            (F.col("id") % 7).alias("g"),
            F.concat(F.lit("w"), F.col("id").cast("string"), F.lit(" the and x9 ")).alias("s"),
        ).select(
            "id",
            "g",
            F.md5(F.col("s")).alias("m"),
            F.xxhash64(F.col("s"), F.lit(42)).alias("h"),
            F.regexp_extract_all(F.lower(F.col("s")), F.lit("[a-z0-9]+"), 0).alias("ws"),
        )
        staged.groupBy("g").agg(
            F.count(F.lit(1)), F.min("m"), F.sum(F.size(F.col("ws"))), F.bit_xor("h")
        ).write.format("noop").mode("overwrite").save()
        w = W.partitionBy("g").orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
        staged.select(F.sum(F.size(F.col("ws"))).over(w).alias("c")).write.format(
            "noop"
        ).mode("overwrite").save()

        left = spark.range(100_000, numPartitions=n).select(
            F.col("id"), (F.col("id") % 997).alias("k"), F.sequence(F.lit(0), F.lit(2)).alias("arr")
        )
        dim = spark.range(997).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
        left.join(F.broadcast(dim), "k").groupBy("k").agg(F.sum("v")).write.format(
            "noop"
        ).mode("overwrite").save()
        left.join(dim.hint("merge"), "k").select("id", "v").orderBy(
            F.desc("v"), "id"
        ).limit(10).write.format("noop").mode("overwrite").save()
        left.select("id", F.explode("arr").alias("e")).groupBy("e").count().write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception:
        # best-effort: a failed warm must never break session construction
        pass


def get_spark(
    app_name: str = "ton_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    prewarm: bool | None = None,
) -> SparkSession:
    """Return the running SparkSession unchanged, or build one with
    engine defaults.  The defaults apply only to a session built here: an
    in-process caller (a CLI command run inside a job or a test suite,
    from any thread) never rewrites the settings of the session it
    joins.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    On a real cluster callers pass ``master=None`` via spark-submit and the
    submit-time master wins.

    ``prewarm``: run ``_prewarm_session`` once per application.  None
    (default) follows ``SPARK_GRAFT_PY_PREWARM`` (on unless it is "0").
    """
    active = SparkSession.getActiveSession()
    if active is None:
        # the active session is per thread: a thread that did not build the
        # running session joins it here, where the builder would apply its
        # options to it
        active = SparkSession._instantiatedSession
        if active is not None and active._sc._jsc is None:
            active = None  # its SparkContext was stopped
    if active is not None:
        return active
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # snappy: measurably the most stable codec under 32 concurrent
        # writers in this environment (zstd/lz4 JNI showed multi-second
        # stalls at high writer counts)
        .config("spark.sql.parquet.compression.codec", "snappy")
        # modern timestamp physical type: INT96 (the legacy default) writes
        # NO footer min/max statistics, which silently disables timestamp
        # file-skipping (lake/table.py stats_cols); micros also round-trips
        # smaller and is what every non-Spark reader expects
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # lake tables are read via explicit per-file path lists; keep the
        # listing on the driver instead of spawning a 10k-task job
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # deterministic timestamp rendering for oracle comparison
        .config("spark.sql.datetime.java8API.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if prewarm is None:
        prewarm = os.environ.get("SPARK_GRAFT_PY_PREWARM", "1") != "0"
    if prewarm:
        _prewarm_session(spark)
    return spark
