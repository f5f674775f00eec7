"""The `analyse` command as a Structured Streaming job (reference
analysis.py traced in SURVEY §3.1/3.2): continuous per-host aggregation
with a periodic atomic snapshot file.

Reference mechanics → Spark mapping:
  daemon-thread consumer + reconnect loop (analysis.py:175-197, SRC-3)
      → readStream + checkpointLocation (restart is the runtime's job, W-5)
  locked in-memory dicts, LRU 500 hosts (analysis.py:18-31, 73-80, W-2)
      → state store; eviction via watermark instead of LRU (documented
        divergence — SURVEY §2.10; exact LRU would be
        applyInPandasWithState, deliberately not the default)
  last-arrival `last_timestamp` (analysis.py:90, W-3)
      → event-time max with a configurable watermark (late rows dropped
        after the delay; the reference accepted everything)
  10s snapshot loop, tmp+rename (analysis.py:208, 227-236, SNK-3, W-4)
      → trigger(processingTime='10 seconds') + foreachBatch writing
        tmp then os.replace (atomic on POSIX, same trick)

Tests drive this with the file source over a fixture directory
(sources/jsonl.stream_crawl_log) using trigger(availableNow=True) — no
broker needed (SURVEY §7.5).
"""

from __future__ import annotations

import json
import os
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import crawl as C


def parsed_events(stream: DataFrame, watermark: str | None = "10 minutes") -> DataFrame:
    """Normalize a crawl-log stream for stateful aggregation: real event
    timestamp + derived host + unified mimetype/status columns."""
    d = stream.withColumn(
        "event_ts", F.to_timestamp(F.col("timestamp"))
    ).withColumn("host_d", C.host_of("url"))
    if watermark:
        d = d.withWatermark("event_ts", watermark)
    return d


def host_stats_stream(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Windowed per-host aggregate (A-1/A-2 under streaming semantics):
    groupBy(window, host) keeps state bounded by the watermark — the
    scale-safe replacement for the reference's 500-host LRU cap (W-2)."""
    return events.groupBy(
        F.window("event_ts", window).alias("win"), F.col("host_d").alias("host")
    ).agg(
        F.count("*").alias("total"),
        F.min("timestamp").alias("first_timestamp"),
        F.max("timestamp").alias("last_timestamp"),
    )


def _write_json_atomic(doc: dict, path: str) -> None:
    """Write ``doc`` as JSON to a temp file in ``path``'s directory, then
    os.replace it into place — readers never observe a partial file (the
    reference's tmp+rename, analysis.py:232-236). The temp file is removed
    if anything fails before the rename."""
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def atomic_snapshot_writer(path: str, top_n: int = 500):
    """SNK-3 foreachBatch sink: the batch's top-N aggregate rows as one
    JSON document, replaced atomically (``_write_json_atomic``)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.orderBy(F.desc("total"))
            .limit(top_n)
            .toJSON()
            .collect()
        )
        doc = {
            "batch_id": batch_id,
            "hosts": [json.loads(r) for r in rows],
        }
        _write_json_atomic(doc, path)

    return write


def run_analysis(
    stream: DataFrame,
    snapshot_path: str,
    checkpoint_dir: str,
    update_interval: str = "10 seconds",
    available_now: bool = False,
):
    """Wire the full job: parse → window agg → periodic snapshot.
    ``available_now=True`` drains the source and stops (the test/batch-drain
    mode, W-7); otherwise a 10 s processing-time trigger mirrors the
    reference's update_interval default (analysis.py:208)."""
    agg = host_stats_stream(parsed_events(stream))
    # complete mode = the reference's semantics exactly: every tick dumps
    # the FULL current state (analysis.py:227-236 dumps the whole stats
    # dict). Update mode would hand the writer per-batch deltas — and the
    # finalizing empty micro-batch would clobber the snapshot. Complete
    # mode keeps all window state (watermark does not evict) — acceptable
    # for this tool-parity job because the writer top-Ns; the 100 TB path
    # is the update-mode Parquet sink of the same aggregation.
    writer = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(atomic_snapshot_writer(snapshot_path))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=update_interval)
    return writer.start()


def run_analysis_scaled(
    stream: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    grain: str = "hour",
    available_now: bool = False,
):
    """The 100 TB form of the analysis job (SURVEY §4.3): instead of
    complete-mode in-memory window state re-dumped every trigger
    (``run_analysis`` — exact tool parity, but state and snapshot both
    grow with history), each micro-batch folds into the durable
    (hour × host × status) ROLLUP table via operators/rollup.py:

      per-trigger cost ∝ micro-batch + touched date partitions
      state            = none (the table is the state; restart-safe)
      full history     = date-partitioned parquet, queryable by anything
      snapshot         = reporting edge over the rollup
                         (``snapshot_from_rollup``), top-k only

    No watermark is needed: there is no streaming aggregation state to
    bound — late events simply merge into their (old) bucket, which is the
    reference's accept-everything semantics (SURVEY §2.10 W-3) made
    durable."""
    from ..operators.rollup import stream_rollup

    ev = parsed_events(stream, watermark=None).select(
        F.col("event_ts"),
        F.col("host_d").alias("host"),
        C.status_str(F.col("status_code")).alias("status"),
        F.coalesce(F.col("size"), F.col("wire_bytes")).alias("bytes"),
    )
    return stream_rollup(
        ev,
        rollup_path,
        checkpoint_dir,
        "event_ts",
        dims=["host", "status"],
        metrics=["bytes"],
        grain=grain,
        available_now=available_now,
    )


def snapshot_from_rollup(
    spark, rollup_path: str, snapshot_path: str, top_n: int = 500
) -> None:
    """Reporting edge for the scaled job: aggregate the rollup to per-host
    totals, keep the top-N busiest hosts, write the same atomic JSON
    document shape as the parity snapshot. Only top_n rows ever reach the
    driver — the full-resolution history stays in the rollup table."""
    hosts = (
        spark.read.parquet(rollup_path)
        .groupBy("host")
        .agg(
            F.sum("cnt").alias("total"),
            F.min("bucket_start").alias("first_bucket"),
            F.max("bucket_start").alias("last_bucket"),
            F.sum("sum_bytes").alias("bytes"),
        )
        .orderBy(F.desc("total"), F.asc_nulls_last("host"))
        .limit(top_n)
    )
    doc = {"hosts": [json.loads(r) for r in hosts.toJSON().collect()]}
    _write_json_atomic(doc, snapshot_path)


def session_stats_stream(
    events: DataFrame,
    key_col: str = "host_d",
    ts_col: str = "event_ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based session windows per key with Spark's native
    ``session_window`` — the streaming counterpart of the batch
    sessionizer (plans/q_sessions.py::user_sessions, which derives the
    same sessions with a lag-window over history).

    Scale/state posture: state is one open window per (key, live
    session), merged as events arrive and EVICTED once the watermark
    passes session end + gap — unlike the W-2 LRU cap, memory is bounded
    by concurrent activity, not key cardinality. In append mode each
    session is emitted exactly once, when it finalizes; the caller must
    have set a watermark on ``ts_col`` upstream (parsed_events does).

    Returns (key, session_start, session_end, n_events)."""
    return (
        events.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            F.col(key_col),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def session_log_sink(
    events: DataFrame,
    table_path: str,
    checkpoint: str,
    key_col: str = "host_d",
    ts_col: str = "event_ts",
    gap: str = "30 minutes",
    available_now: bool = False,
):
    """Durable finalized-session log: session_stats_stream's append-mode
    output through Spark's NATIVE parquet file sink. Finalized sessions
    are append-only facts (each emitted exactly once when the watermark
    closes it), so the right exactly-once discipline is the file sink's
    own ``_spark_metadata`` transaction log — committed files are
    recorded atomically per batch, a replayed batch re-targets the same
    file names, and readers see only logged files. The staged two-phase
    protocol (twophase.py) exists for the OTHER shape — merged snapshots
    that overwrite live state (sketch folds, funnel.py's per-user
    overlay); using it here would stage O(history) for an append-only
    relation. Restart-without-duplicates is pinned in
    tests/test_stream_sessions.py."""
    writer = (
        session_stats_stream(events, key_col=key_col, ts_col=ts_col, gap=gap)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", table_path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
