"""Kafka source/sink builders (SURVEY §2.1 SRC-1/2/3, §2.2 SNK-1).

No broker exists in the test environment, so these return configured
readers/writers (option dicts are unit-tested); the semantics they encode:

- SRC-1 bounded scan: earliest|latest start + drain-and-stop. The
  reference's idle-timeout stop (consumer_timeout_ms, report.py:262-268)
  becomes ``trigger(availableNow=True)`` — read everything available, stop.
- SRC-2 event-time range scan: the reference resolves timestamps to
  per-partition offsets broker-side and seeks (streamer.py:132-164);
  Spark's global ``startingTimestamp`` / ``endingTimestamp`` push the same
  bounds to the broker for every partition of the topic.
- SRC-3 continuous subscribe with group id + crash retry
  (analysis.py:175-197): readStream + checkpointLocation — restart/retry
  and offset tracking move into the Spark runtime, strictly stronger than
  the reference's reconnect loop (W-5).
- SNK-1 producer with explicit key + acks=all (enqueue.py:40-55,130-133):
  DataFrame with (key, value) → kafka sink; the murmur3-seed-0 key is
  functions/hashing.make_mmh3_key_udf.
- W-8 backpressure: max_partition_fetch_bytes → maxOffsetsPerTrigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def topic_options(
    brokers: str,
    topic: str,
    *,
    from_beginning: bool = True,
    group_id: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Shared option block for the crawl-log topic consumers."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": "earliest" if from_beginning else "latest",
        # The reference never commits offsets (enable_auto_commit=False,
        # report.py:267); Spark tracks progress in the checkpoint instead.
        "failOnDataLoss": "false",
    }
    if group_id:
        opts["kafka.group.id"] = group_id
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def time_range_options(
    brokers: str,
    topic: str,
    from_epoch_ms: int,
    to_epoch_ms: int,
) -> dict[str, str]:
    """SRC-2 — event-time range pushed to the broker. The reference maps
    [from,to) to offsets with offsets_for_times per partition
    (streamer.py:143-148); Spark's global ``startingTimestamp`` /
    ``endingTimestamp`` (Spark >= 3.2) apply one bound to every partition
    of the topic, whatever its partition count — a by-timestamp map must
    name every partition or Spark rejects it. A partition with no offset
    past ``to`` reads to latest, matching the reference's stop-set
    behavior (streamer.py:150-164)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingTimestamp": str(from_epoch_ms),
        "endingTimestamp": str(to_epoch_ms),
        "failOnDataLoss": "false",
    }


def read_topic(spark: SparkSession, brokers: str, topic: str, **kw) -> DataFrame:
    """SRC-1 — bounded batch read of a topic."""
    reader = spark.read.format("kafka")
    for k, v in topic_options(brokers, topic, **kw).items():
        reader = reader.option(k, v)
    return reader.load()


def read_topic_time_range(
    spark: SparkSession,
    brokers: str,
    topic: str,
    from_epoch_ms: int,
    to_epoch_ms: int,
) -> DataFrame:
    """SRC-2 — bounded event-time range scan."""
    reader = spark.read.format("kafka")
    opts = time_range_options(brokers, topic, from_epoch_ms, to_epoch_ms)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def stream_topic(spark: SparkSession, brokers: str, topic: str, **kw) -> DataFrame:
    """SRC-3 — continuous subscribe; pair with
    .writeStream.option("checkpointLocation", ...) for restartability."""
    reader = spark.readStream.format("kafka")
    for k, v in topic_options(brokers, topic, **kw).items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_sink_options(brokers: str, topic: str) -> dict[str, str]:
    """SNK-1 — durable producer config (acks=all, enqueue.py:42); Spark's
    commit protocol supplies the flush barrier (enqueue.py:132-133)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "kafka.acks": "all",
    }


def write_to_kafka(df: DataFrame, brokers: str, topic: str) -> None:
    """SNK-1 — df must carry string/binary ``key`` and ``value`` columns
    (value = to_json(struct(...)), key = mmh3 partition key)."""
    writer = df.select("key", "value").write.format("kafka")
    for k, v in kafka_sink_options(brokers, topic).items():
        writer = writer.option(k, v)
    writer.save()
