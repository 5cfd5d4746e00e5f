"""``session.get_spark`` joins the running session from any thread and
leaves its runtime settings as they are."""

import threading

from ton_etl_spark.session import get_spark


def test_get_spark_from_another_thread_keeps_runtime_settings(spark):
    """The active session is per thread, so a thread that did not build
    the session has none; ``get_spark`` there must still return the
    running session, without applying its engine defaults to it (32
    shuffle partitions, a UTC session zone)."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    got = []
    try:
        th = threading.Thread(target=lambda: got.append(get_spark()))
        th.start()
        th.join()
        assert got and got[0] is spark
        assert [spark.conf.get(k) for k in keys] == ["5", "Asia/Tokyo"]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
