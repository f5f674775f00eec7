"""The `crawlstreams` report command surface (reference report.py) —
four output formats + the Solr ETL, as DataFrame transforms (SURVEY §3.1).

Dispatch map (report.py:271-281):
  -F raw        → identity                        (show_raw_stream)
  -F crawl-log  → crawl_log_lines(df)             (show_crawl_log_stream)
  default       → mixed_stream_lines(df)          (show_stream)
  -S            → summarise_hosts(df)             (summarise_stream)
  -F crawl-db   → solr_documents(df)              (to_solr_kevals)

Everything is built-in expressions — Catalyst pushes the variant filters
into the scan and prunes unused columns (the reference does both by hand:
early `thread` check report.py:48-49, http-prefix check report.py:149-151).
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions import crawl as C

#: The 13 fields of the formatted crawl-log line (report.py:57), in order.
_CRAWL_LOG_FIELDS = [
    "timestamp",
    "status_code",
    "size",
    "url",
    "hop_path",
    "via",
    "mimetype",
    "thread",
    "start_time_plus_duration",
    "content_digest",
    "seed",
    "annotations",
]


def heritrix_only(df: DataFrame) -> DataFrame:
    """P-2 — keep Heritrix-variant records (report.py:48-49)."""
    return df.filter(C.is_heritrix())


def crawl_log_lines(df: DataFrame) -> DataFrame:
    """P-3 + P-4 — null→'-' coalescing then the fixed 13-field crawl-log
    line (report.py:53-57). Returns (url, line)."""
    return heritrix_only(df).select(*_crawl_log_line())


def mixed_stream_lines(df: DataFrame) -> DataFrame:
    """P-5 — variant-dispatch projection of a mixed topic
    (report.py:108-123): discovered-URL rows (parentUrl set) render one
    way, crawled rows (status_code set) another, everything else is an
    error row."""
    return df.select(_mixed_line("parentUrl" in df.columns))


def summarise_hosts(df: DataFrame) -> DataFrame:
    """A-7 — per-hostname totals + first cross-host referrer
    (report.py:126-165): unify url/via across variants (P-6), drop non-http
    URLs (P-7), group by hostname.

    The reference captures the *arrival-order* first cross-host via
    (report.py:157-159); under parallelism that is nondeterministic, so the
    engine defines it as min_by over the stable ``seq`` column when one
    exists (kafka offset / row id), else falls back to Spark's first()
    (documented divergence, SURVEY §7.7)."""
    keep, cols, aggs = _host_summary(
        "parentUrl" in df.columns, "seq" in df.columns
    )
    return df.filter(keep).select(*cols).groupBy("hostname").agg(*aggs)


def solr_documents(df: DataFrame) -> DataFrame:
    """The crawl-db ETL projection (to_solr_kevals, report.py:167-224):

    - renames: timestamp→log_timestamp, seed→source (F-9, report.py:175,179)
    - id = 'crawl-log:<ts>/<url>' (F-8, report.py:177)
    - start_time_plus_duration → start_time + duration (F-6, :203-209)
    - annotations → ip / launch_timestamp / remainder (F-7, :182-201)
    - crawler = Heritrix|WebRender by thread presence (F-10, :214-219)
    - extra_info dropped (report.py:212)
    """
    return df.select(*_solr_document())


# -- projections, built once per process -------------------------------------
#
# Each builder names its input columns and takes only the structural flags
# its projection branches on, so the Columns it returns bind to whichever
# frame they are applied to, in any session. Building them costs dozens of
# py4j round trips; the report command used to pay that on every call.


@functools.cache
def _crawl_log_line() -> tuple[Column, Column]:
    fields = [
        F.coalesce(F.col(c).cast("string"), F.lit("-"))
        for c in _CRAWL_LOG_FIELDS
    ]
    fmt = " ".join(["%s"] * len(_CRAWL_LOG_FIELDS))
    url = fields[_CRAWL_LOG_FIELDS.index("url")]
    return url.alias("url"), F.format_string(fmt, *fields).alias("line")


@functools.cache
def _mixed_line(has_parent: bool) -> Column:
    parent = F.col("parentUrl") if has_parent else F.lit(None)
    is_discovered = parent.isNotNull() if has_parent else F.lit(False)
    discovered = F.format_string(
        "DISCOVERED %s via %s",
        F.coalesce(F.col("url"), F.lit("-")),
        F.coalesce(parent, F.lit("-")),
    )
    crawled = F.format_string(
        "CRAWLED %s %s %s",
        F.coalesce(F.col("timestamp"), F.lit("-")),
        F.coalesce(F.col("status_code").cast("string"), F.lit("-")),
        F.coalesce(F.col("url"), F.lit("-")),
    )
    return (
        F.when(is_discovered, discovered)
        .when(F.col("status_code").isNotNull(), crawled)
        .otherwise(F.lit("ERROR: unrecognised record"))
        .alias("line")
    )


@functools.cache
def _host_summary(
    has_parent: bool, has_seq: bool
) -> tuple[Column, tuple[Column, ...], tuple[Column, Column]]:
    """(row filter, pre-aggregation columns, aggregates) of summarise_hosts."""
    via = F.coalesce(
        F.col("parentUrl") if has_parent else F.lit(None),
        F.col("via"),
        F.lit("-"),
    )
    cols = (
        via.alias("via_u"),
        C.host_of("url").alias("hostname"),
        C.host_of(via).alias("via_host"),
    )
    if has_seq:
        cols += (F.col("seq"),)
    cross = F.when(F.col("via_host") != F.col("hostname"), F.col("via_u"))
    if has_seq:
        first_via = F.min_by(cross, F.when(cross.isNotNull(), F.col("seq")))
    else:
        first_via = F.first(cross, ignorenulls=True)
    return (
        F.col("url").startswith("http"),  # P-7 report.py:149-151
        cols,
        (F.count("*").alias("tot"), first_via.alias("first_cross_via")),
    )


@functools.cache
def _solr_document() -> tuple[Column, ...]:
    start_time, duration = C.split_start_time_plus_duration(
        F.col("start_time_plus_duration")
    )
    return (
        C.doc_id(F.col("timestamp"), F.col("url")).alias("id"),
        F.col("timestamp").alias("log_timestamp"),
        F.col("url"),
        F.col("status_code"),
        F.col("content_length"),
        F.col("seed").alias("source"),
        C.crawler_name(F.col("thread")).alias("crawler"),
        C.mimetype_unified(F.col("mimetype"), F.col("content_type")).alias(
            "content_type"
        ),
        start_time.alias("start_time"),
        duration.alias("duration"),
        # raw-string regex classifiers (codegen path; see functions/crawl.py
        # annotation_*_raw — HOF equivalence pinned in conformance tests)
        C.annotation_ip_raw(F.col("annotations")).alias("ip"),
        C.annotation_launch_ts_raw(F.col("annotations")).alias(
            "launch_timestamp"
        ),
        C.annotation_dol_raw(F.col("annotations")).alias("dol"),
        C.annotation_rest_raw(F.col("annotations")).alias("annotations"),
        F.col("content_digest"),
        F.col("warc_filename"),
        F.col("warc_offset"),
    )
