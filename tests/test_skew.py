"""Hot-key skew: a single doc_id carrying most of a batch's events must
reduce correctly and cheaply.

The MERGE ranks a key's events inside one task (an external sort that
spills), whether the key's bucket is empty or already holds its stored
row.  Either way it must pick the same winner the one-pass oracle picks.
"""

import pytest
from pyspark.sql import functions as F

from ton_etl_spark.cdc.apply import (
    apply_cdc_batch,
    final_state_oracle,
    make_sequences_table,
    read_state,
)


@pytest.fixture(scope="module")
def hot_batch(spark):
    """200k events, 90% on one doc_id, out-of-order lsn, spread over 16
    input partitions."""
    n = 200_000
    df = spark.range(n, numPartitions=16).withColumnRenamed("id", "lsn")
    hot = F.pmod(F.xxhash64("lsn"), F.lit(10)) < 9
    df = (
        df.withColumn(
            "doc_id",
            F.when(hot, F.lit("hot")).otherwise(
                F.concat(F.lit("cold_"), F.pmod(F.xxhash64("lsn", F.lit(1)), F.lit(500)))
            ),
        )
        .withColumn(
            "op",
            F.when(F.pmod(F.xxhash64("lsn", F.lit(2)), F.lit(10)) < 1, "d").otherwise("u"),
        )
        .withColumn("ts_ms", (F.lit(1_700_000_000_000) + F.col("lsn")).cast("long"))
        .withColumn(
            "tokens",
            F.when(F.col("op") == "d", F.lit(None)).otherwise(
                F.array(F.pmod(F.xxhash64("lsn", F.lit(3)), F.lit(32000)).cast("int"))
            ),
        )
        .withColumn("n_tok", F.when(F.col("op") == "d", F.lit(None)).otherwise(F.lit(1)).cast("int"))
        .withColumn("source", F.lit("web"))
    )
    return df.select("doc_id", "op", "lsn", "ts_ms", "tokens", "n_tok", "source")


def test_merge_hot_key_matches_oracle(spark, hot_batch, tmp_path):
    table = make_sequences_table(spark, str(tmp_path / "t"), n_buckets=8)
    apply_cdc_batch(table, hot_batch, epoch=0)
    got = sorted(tuple(r) for r in read_state(table).collect())
    want = sorted(tuple(r) for r in final_state_oracle(hot_batch).collect())
    assert got == want and len(got) > 0
    # a second hot epoch into the populated buckets: the stored row ranks
    # against the batch, and the feed holds the old and new hot-key rows
    v0 = table.current_version()
    later = hot_batch.withColumn("lsn", F.col("lsn") + 200_000).withColumn(
        "ts_ms", F.col("ts_ms") + 200_000)
    apply_cdc_batch(table, later, epoch=1)
    got = sorted(tuple(r) for r in read_state(table).collect())
    want = sorted(tuple(r) for r in final_state_oracle(hot_batch.unionByName(later)).collect())
    assert got == want
    hot = table.changes(v0, table.current_version()).where(F.col("doc_id") == "hot")
    assert sorted(r["_change_type"] for r in hot.collect()) == ["delete", "insert"]


def test_funnel_pattern_bounded_under_hot_user(spark, tmp_path):
    """funnel_pattern must not materialize a hot user's whole event chain:
    one user with 100k events (ending view→click→purchase) and a control
    population must produce exactly the brute-force answer, through the
    windowed top-3 plan rather than a collect_list of the full chain."""
    from ton_etl_spark.plans.queries import QUERIES

    n_hot = 100_000
    hot = (
        spark.range(n_hot, numPartitions=8)
        .select(
            F.lit(0).alias("user_id"),
            F.col("id").cast("long").alias("ts"),
            F.col("id").cast("long").alias("event_id"),
            # last three (ts = n-3, n-2, n-1) form the funnel; earlier events
            # are noise the plan must never buffer wholesale
            F.when(F.col("id") == n_hot - 3, "view")
            .when(F.col("id") == n_hot - 2, "click")
            .when(F.col("id") == n_hot - 1, "purchase")
            .otherwise("view")
            .alias("event_type"),
        )
    )
    # control users: u1 matches the funnel, u2 fails it, u3 too short
    ctl = spark.createDataFrame(
        [
            (1, 10, 1, "view"), (1, 11, 2, "click"), (1, 12, 3, "purchase"),
            (2, 10, 4, "view"), (2, 11, 5, "purchase"), (2, 12, 6, "click"),
            (3, 10, 7, "purchase"),
        ],
        "user_id long, ts long, event_id long, event_type string",
    )
    events = hot.unionByName(ctl)
    root = str(tmp_path / "sf")
    events.write.parquet(f"{root}/events.parquet")
    got = {(r["user_id"], r["n_events"]) for r in QUERIES["funnel_pattern"](spark, root).collect()}
    assert got == {(0, n_hot), (1, 3)}
