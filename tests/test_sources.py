"""Source-builder semantics: malformed-record resilience (P-1 parity with
the reference's catch-and-log, analysis.py:140-141) and Kafka option
construction (SRC-1/2/3, SNK-1, W-8)."""

from __future__ import annotations

import json

from crawl_streams_spark.sources import kafka
from crawl_streams_spark.sources.jsonl import read_crawl_log, read_uri_list


def test_malformed_records_never_fail_the_job(spark, tmp_path):
    p = tmp_path / "mixed.jsonl"
    rows = [
        json.dumps({"url": "https://ok.example.org/", "timestamp": "2021-01-01T00:00:00.000Z", "status_code": 200, "thread": 1}),
        "{this is not json",
        json.dumps({"url": "https://ok2.example.org/", "timestamp": "2021-01-01T00:00:01.000Z", "status_code": -5003}),
        "",
        '"just a string"',
    ]
    p.write_text("\n".join(rows) + "\n")
    df = read_crawl_log(spark, str(p)).cache()
    good = df.filter("corrupt_record IS NULL AND url IS NOT NULL")
    bad = df.filter("corrupt_record IS NOT NULL")
    assert good.count() == 2
    assert bad.count() == 2  # broken json + bare string; blank line skipped
    assert {r["url"] for r in good.collect()} == {
        "https://ok.example.org/",
        "https://ok2.example.org/",
    }


def test_uri_list_trims_and_drops_blanks(spark, tmp_path):
    p = tmp_path / "uris.txt"
    p.write_text("  https://a.org/  \n\n\thttps://b.org/\n   \n")
    uris = [r["uri"] for r in read_uri_list(spark, str(p)).collect()]
    assert sorted(uris) == ["https://a.org/", "https://b.org/"]


def test_topic_options_semantics():
    opts = kafka.topic_options("k:9092", "fc.crawled", from_beginning=True,
                               group_id="g1", max_offsets_per_trigger=5000)
    assert opts["startingOffsets"] == "earliest"      # SRC-1 -B semantics
    assert opts["kafka.group.id"] == "g1"             # SRC-3 group id
    assert opts["maxOffsetsPerTrigger"] == "5000"     # W-8 fetch cap
    latest = kafka.topic_options("k:9092", "t", from_beginning=False)
    assert latest["startingOffsets"] == "latest"      # -L semantics


def test_time_range_options_pushdown():
    opts = kafka.time_range_options("k:9092", "fc.crawled", 1000, 2000)
    # SRC-2: one event-time bound for every partition, broker-side — no
    # per-partition map, so the topic's partition count does not matter
    assert opts["startingTimestamp"] == "1000"
    assert opts["endingTimestamp"] == "2000"
    assert not any("OffsetsByTimestamp" in k for k in opts)


def test_sink_options_durability():
    opts = kafka.kafka_sink_options("k:9092", "fc.tocrawl")
    assert opts["kafka.acks"] == "all"                # SNK-1 enqueue.py:42


# --- wire-format goldens ---------------------------------------------------
# No broker or Kafka connector jar exists in this environment, so these pin
# the option dict only: Spark's KafkaSourceProvider reads the global
# startingTimestamp / endingTimestamp options (Spark >= 3.2) as decimal
# epoch-millis strings and applies each to every partition of the topic,
# as the reference's offsets_for_times maps did (streamer.py:134-148).

def test_time_range_wire_json_golden():
    opts = kafka.time_range_options(
        "k:9092", "fc.crawled", 1575000000000, 1575003600000
    )
    assert opts == {
        "kafka.bootstrap.servers": "k:9092",
        "subscribe": "fc.crawled",
        "startingTimestamp": "1575000000000",
        "endingTimestamp": "1575003600000",
        "failOnDataLoss": "false",
    }


def test_time_range_wire_json_types():
    """Type discipline Spark's parser requires: every option value is a
    string, and each timestamp a plain decimal long (no quotes, no
    fraction, no exponent)."""
    opts = kafka.time_range_options("k:9092", "t", 1000, 2000)
    assert all(isinstance(v, str) for v in opts.values())
    bounds = [opts["startingTimestamp"], opts["endingTimestamp"]]
    assert all(b.isdigit() for b in bounds), bounds
    assert [int(b) for b in bounds] == [1000, 2000]


def test_topic_options_exact_golden():
    """Full option-dict goldens for each consumer mode (no stray keys — an
    unknown option silently changes Kafka source behavior)."""
    assert kafka.topic_options("broker1:9092,broker2:9092", "fc.crawled") == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "fc.crawled",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }
    assert kafka.topic_options(
        "k:9092", "fc.crawled", from_beginning=False,
        group_id="crawl-streams-analysis", max_offsets_per_trigger=10000,
    ) == {
        "kafka.bootstrap.servers": "k:9092",
        "subscribe": "fc.crawled",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
        "kafka.group.id": "crawl-streams-analysis",
        "maxOffsetsPerTrigger": "10000",
    }
    assert kafka.kafka_sink_options("k:9092", "fc.tocrawl.npld") == {
        "kafka.bootstrap.servers": "k:9092",
        "topic": "fc.tocrawl.npld",
        "kafka.acks": "all",
    }
