"""File sources: JSONL crawl feed / crawl-log fixtures / URI lists.

Replaces the reference's line-by-line ``json.loads`` generators
(launcher.py:142-146 SRC-4; submit.py:89-102 SRC-5) with schema'd Spark
readers: distributed, predicate-pushable, and identical for batch and
streaming (readStream on the same path + schema gives the fixture-dir
streaming mode of SURVEY §7.5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..functions import crawl as C
from ..schemas import CRAWL_FEED_SCHEMA, CRAWL_LOG_SCHEMA

#: the union schema plus the corrupt-record column (a copy: StructType.add
#: mutates in place, and CRAWL_LOG_SCHEMA is shared)
_CRAWL_LOG_READ_SCHEMA = StructType(
    list(CRAWL_LOG_SCHEMA.fields) + [StructField("corrupt_record", StringType())]
)


def read_crawl_feed(spark: SparkSession, path: str) -> DataFrame:
    """SRC-4 — crawl-feed target specs, one JSON object per line
    (launcher.py:142-146)."""
    return spark.read.schema(CRAWL_FEED_SCHEMA).json(path)


def read_crawl_log(spark: SparkSession, path: str) -> DataFrame:
    """Crawl-log JSONL (e.g. the reference's 1,000-row sample) under the
    union schema; use ``is_heritrix`` for variant dispatch
    (report.py:48-49).

    Malformed lines never fail the job — the reference catch-and-logs
    every parse error (analysis.py:140-141, streamer.py:161-162); here
    PERMISSIVE mode routes them to ``corrupt_record``. Filter on it for
    analysis. For the A-9-style error metric, count it NEXT TO another
    column — Spark refuses a raw-JSON query whose only referenced column
    is the corrupt-record column::

        df.agg(F.count("corrupt_record"), F.count("timestamp")).first()[0]
    """
    df = (
        spark.read.schema(_CRAWL_LOG_READ_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_record")
        .json(path)
    )
    return df.withColumn("is_heritrix", C.is_heritrix())


def stream_crawl_log(spark: SparkSession, path: str) -> DataFrame:
    """Streaming flavor of read_crawl_log over a directory — the
    no-broker test harness for every streaming operator (SURVEY §7.5)."""
    df = spark.readStream.schema(CRAWL_LOG_SCHEMA).json(path)
    return df.withColumn("is_heritrix", C.is_heritrix())


def read_uri_list(spark: SparkSession, path: str) -> DataFrame:
    """SRC-5 — one URI per line, whitespace-stripped, blanks dropped
    (submit.py:89-102; per-row retry there is sink policy, not scan).
    Python str.strip() removes all whitespace; Spark trim() only removes
    spaces, so strip via regexp."""
    return (
        spark.read.text(path)
        .select(
            F.regexp_replace(F.col("value"), r"^\s+|\s+$", "").alias("uri")
        )
        .filter(F.col("uri") != "")
    )
