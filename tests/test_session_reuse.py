"""get_spark must not silently re-tune an existing session.

SparkSession.getOrCreate RE-APPLIES the builder's configs onto the
session it returns, so a default-parameter get_spark() call from
embedded code (the CLI under pytest, a library consumer) would reset
spark.sql.shuffle.partitions to this process's core count on a session
someone else configured. Partition-count-dependent plans — an
aggregate above an ArrowEvalPython node, whose child's
outputPartitioning is voided — then change shape mid-session; this is
exactly the pq_codes_fixed_book plan-snapshot flake (r14, suite order
test_cli → test_plans)."""

from __future__ import annotations

from crawl_streams_spark.session import get_spark


def test_default_get_spark_keeps_existing_shuffle_partitions(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    s = get_spark("embedded-caller")  # no explicit shuffle_partitions
    assert s is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_explicit_shuffle_partitions_still_apply(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark("embedded-caller", shuffle_partitions=int(before) + 3)
        assert s.conf.get("spark.sql.shuffle.partitions") == str(
            int(before) + 3
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_default_get_spark_from_another_thread_keeps_partitions(spark):
    """The active session is thread-local: a thread that never set one
    must still get the existing (default) session untouched, not a
    re-tuned one."""
    import threading

    before = spark.conf.get("spark.sql.shuffle.partitions")
    seen = {}

    def embedded():
        s = get_spark("embedded-thread")
        seen["partitions"] = s.conf.get("spark.sql.shuffle.partitions")

    spark.conf.set("spark.sql.shuffle.partitions", "97")
    try:
        t = threading.Thread(target=embedded)
        t.start()
        t.join()
        assert seen["partitions"] == "97"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "97"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
