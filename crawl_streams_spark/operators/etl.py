"""Crawl-log → parquet warehouse ETL: the composed pipeline that turns the
raw event stream into an analytics-ready table.

The reference's only durable outputs are a Solr index (report.py:167-224)
and a JSON snapshot (analysis.py:227-236); the warehouse table is the
engine-native third path — typed, cleaned, date-partitioned parquet that
every batch query in plans/ could run against. Composition:

    parse (P-1, schema'd reader) → typed projection (F-1..F-12)
    → clustered_write (operators/layout.py): partition by event_date
      for pruning, cluster by host so per-host scans skip row groups,
      and count the rows on their way into the writer

Batch and streaming modes share the projection (the same column
expressions, built once per process); streaming appends per micro-batch
via foreachBatch. The batch row count comes from the write itself (an
observed metric), so reporting it costs no second read of the output.
At 100 TB/day this is one narrow map plus the layout shuffle — no
aggregation state.
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions import crawl as C
from .layout import clustered_write

__all__ = ["warehouse_rows", "write_warehouse", "stream_warehouse"]


def warehouse_rows(df: DataFrame) -> DataFrame:
    """Typed, cleaned projection of the union crawl-log schema (SURVEY
    §1.4): event-time timestamp + date, host, unified mimetype, crawler
    variant, classified annotations — the analysis-ready column set."""
    cols, keep = _warehouse_projection()
    return df.select(*cols).filter(keep)


@functools.cache
def _warehouse_projection() -> tuple[tuple[Column, ...], Column]:
    """The projection's columns and row filter, built once per process.

    Every expression names its input columns, so the result binds to
    whichever frame it is applied to and survives a session restart;
    rebuilding it per call cost 170-420 ms of py4j round trips
    (canonical_url's bound lambdas alone about 140 ms)."""
    # ISO-8601 with Z parses under the default lenient parser; malformed
    # rows go NULL (try_) and are dropped rather than failing the job, the
    # reference's catch-and-log posture (analysis.py:140-141).
    ts = F.try_to_timestamp(F.col("timestamp"))
    annots = C.annotations_array(F.col("annotations"))
    start_time, duration = C.split_start_time_plus_duration(
        F.col("start_time_plus_duration")
    )
    cols = (
        ts.alias("log_timestamp"),
        F.to_date(ts).alias("event_date"),
        F.col("url"),
        # canonical form = the stable dedup/join key (fragment, case,
        # default-port and query-order noise removed)
        C.canonical_url(F.col("url")).alias("canon_url"),
        C.host_of("url").alias("host"),
        F.col("status_code"),
        C.mimetype_unified(F.col("mimetype"), F.col("content_type")).alias(
            "mimetype"
        ),
        C.crawler_name(F.col("thread")).alias("crawler"),
        F.coalesce(F.col("size"), F.col("wire_bytes")).alias("bytes"),
        start_time.alias("fetch_start"),
        duration.alias("fetch_duration_ms"),
        F.col("content_digest"),
        F.col("seed").alias("source"),
        annots.alias("annotations"),
        C.hop_last(F.col("hop_path")).alias("hop"),
    )
    return cols, F.col("log_timestamp").isNotNull()


def write_warehouse(
    df: DataFrame, path: str, max_records_per_file: int = 1_000_000
) -> int:
    """Batch mode: full rewrite, date-partitioned, host-clustered. Returns
    the number of rows written, counted by the write itself."""
    return clustered_write(
        warehouse_rows(df),
        path,
        partition_by=["event_date"],
        cluster_by=["host"],
        max_records_per_file=max_records_per_file,
    )


def stream_warehouse(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = False,
):
    """Streaming mode: append each micro-batch with the same layout.
    foreachBatch rather than the parquet streaming sink so the per-batch
    write keeps the clustered layout (the streaming sink cannot
    repartition+sort per partition value)."""

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        clustered_write(
            warehouse_rows(batch_df),
            path,
            partition_by=["event_date"],
            cluster_by=["host"],
            mode="append",
        )

    writer = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_curated(
    docs: DataFrame,
    path: str,
    rates: dict[str, float],
    **curate_kwargs,
) -> None:
    """Curate → write, partitioned by split (train/val/test directories are
    what a training job consumes), clustered by source then doc_id for
    deterministic, skip-friendly layout."""
    from .pipeline import curate

    clustered_write(
        curate(docs, rates, **curate_kwargs),
        path,
        partition_by=["split"],
        cluster_by=["source", "doc_id"],
    )
