"""Scalar functions over crawl-log records — SURVEY.md §2.4 (F-1..F-16).

Each function documents the reference behavior it reproduces
(/root/reference/crawlstreams/<file>:<line>) and returns a Column built from
Spark built-ins so Catalyst can push, prune and codegen around it.

Intended-semantics notes (SURVEY.md §5.2): where the reference has a latent
bug (e.g. ``str(None) -> "None"`` bypassing the "-" fallback,
analysis.py:129-133) we implement the intent and say so.
"""

from __future__ import annotations

import functools

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def host_of(url: Column | str) -> Column:
    """F-1/F-2 — authority of a URL, with the reference's ``dns:`` special
    case (streamer.py:93-102: ``dns:example.org`` → ``example.org``).

    Uses parse_url(HOST) (hostname, no port) — the grouping-key semantics the
    reference needs; analysis.py:143-147 keeps the port but never groups on
    it distinctly in practice.
    """
    url = _c(url)
    return (
        F.when(url.isNull(), F.lit(None).cast("string"))
        .when(url.startswith("dns:"), F.substring(url, 5, 2_000_000))
        .otherwise(F.parse_url(url, F.lit("HOST")))
    )


def hour_bucket(ts: Column | str) -> Column:
    """F-3 — truncate event time to the hour (streamer.py:104-110 does it by
    string slicing ``timestamp[:13] + ":00:00"``; we do it as a real
    timestamp op so it stays sortable/pushable)."""
    return F.date_trunc("hour", _c(ts))


def wayback_timestamp(ts_string: Column | str) -> Column:
    """F-4 — keep only digits of the ISO timestamp string → 17-digit wayback
    form (streamer.py:47)."""
    return F.regexp_replace(_c(ts_string), "[^0-9]", "")


def hop_last(hop_path: Column | str) -> Column:
    """F-5 — final hop type = last character of hop_path (streamer.py:75);
    empty → '_' per streamer.py:52-53."""
    hop = _c(hop_path)
    last = F.substring(hop, -1, 1)
    return F.when(hop.isNull() | (hop == ""), F.lit("_")).otherwise(last)


def compact_ts(raw: Column) -> Column:
    """Parse ``yyyyMMddHHmmss[fraction]`` compact timestamps. Java's
    DateTimeFormatter rejects pattern 'yyyyMMddHHmmssSSS' on unseparated
    input, so: parse the 14-digit base, then add the remaining digits as a
    right-zero-padded microsecond fraction — exactly Python's %f semantics
    (reference report.py:190-193, 206 parse with strptime %f)."""
    base = F.try_to_timestamp(F.substring(raw, 1, 14), F.lit("yyyyMMddHHmmss"))
    frac_digits = F.substring(raw, 15, 6)
    micros = F.rpad(frac_digits, 6, "0").try_cast("long")
    return F.when(
        micros.isNotNull(),
        F.timestamp_micros(
            (F.unix_micros(base.cast("timestamp")) + micros)
        ).cast("timestamp"),
    ).otherwise(base)


def split_start_time_plus_duration(col: Column | str) -> tuple[Column, Column]:
    """F-6 — split ``yyyyMMddHHmmssSSS+millis`` on '+' into (start_time
    timestamp, duration ms) (report.py:203-209). Rows without '+' yield
    (null, null) — the reference drops the field in that case."""
    c = _c(col)
    has = c.contains("+")
    parts = F.split(c, r"\+")
    start = F.when(has, compact_ts(parts.getItem(0))).otherwise(
        F.lit(None).cast("timestamp")
    )
    dur = F.when(has, parts.getItem(1).try_cast("long")).otherwise(
        F.lit(None).cast("long")
    )
    return start, dur


def annotations_array(annotations: Column | str) -> Column:
    """F-7 (part) — comma-packed annotations string → array, empties dropped
    (streamer.py:60-62)."""
    arr = F.split(F.coalesce(_c(annotations), F.lit("")), ",")
    return F.filter(arr, lambda a: a != "")


def annotation_ip(annots: Column) -> Column:
    """F-7 — extract ``ip:<addr>`` annotation value (report.py:188-189)."""
    hits = F.filter(annots, lambda a: a.startswith("ip:"))
    return F.when(F.size(hits) > 0, F.substring(F.element_at(hits, 1), 4, 2_000_000))


def annotation_launch_ts(annots: Column) -> Column:
    """F-7 — ``launchTimestamp:<digits>`` → parsed timestamp. The reference
    parses %Y%m%d%H%M%S%f (report.py:190-193), i.e. 14 digits with optional
    fractional digits; both widths appear in the wild, so try 16 then 14,
    NULL when neither parses (the reference catches-and-drops too)."""
    hits = F.filter(annots, lambda a: a.startswith("launchTimestamp:"))
    raw = F.when(F.size(hits) > 0, F.substring(F.element_at(hits, 1), 17, 2_000_000))
    return compact_ts(raw)


def annotation_rest(annots: Column) -> Column:
    """F-7 — annotations that are not ip:/launchTimestamp:/dol: classes,
    spaces→underscores, re-joined with spaces (report.py:196-201)."""
    rest = F.filter(
        annots,
        lambda a: ~(
            a.startswith("ip:")
            | a.startswith("launchTimestamp:")
            | a.startswith("dol:")
        ),
    )
    return F.array_join(F.transform(rest, lambda a: F.replace(a, F.lit(" "), F.lit("_"))), " ")


def annotation_value_raw(annotations: Column | str, key: str) -> Column:
    """First ``key:<value>`` annotation from the RAW comma-packed string,
    NULL when absent (('' when present-but-empty, matching the array
    path). Pure regex → whole-stage codegen; the array/HOF classifiers
    above are interpreted per row (higher-order functions don't codegen),
    which measured ~4× slower on the classification query at sf0.1."""
    raw = F.coalesce(_c(annotations), F.lit(""))
    return F.when(
        raw.rlike(f"(^|,){key}:"),
        F.regexp_extract(raw, f"(?:^|,){key}:([^,]*)", 1),
    )


def annotation_ip_raw(annotations: Column | str) -> Column:
    """F-7 — ip: extraction straight off the packed string; equivalent to
    ``annotation_ip(annotations_array(x))`` (equivalence pinned on the
    reference sample in tests/test_crawl_conformance.py)."""
    return annotation_value_raw(annotations, "ip")


def annotation_dol_raw(annotations: Column | str) -> Column:
    """F-7 — dol: extraction straight off the packed string."""
    return annotation_value_raw(annotations, "dol")


def annotation_launch_ts_raw(annotations: Column | str) -> Column:
    """F-7 — launchTimestamp: extraction + compact parse, raw-string form."""
    return compact_ts(annotation_value_raw(annotations, "launchTimestamp"))


def annotation_rest_raw(annotations: Column | str) -> Column:
    """F-7 — unclassified annotations, spaces→underscores, space-joined;
    raw-string regex form of ``annotation_rest``. Identity used: tokens
    never contain commas, so stripping classified tokens, underscoring all
    remaining spaces, and collapsing comma runs to single spaces is exactly
    filter+transform+array_join over the split array."""
    raw = F.coalesce(_c(annotations), F.lit(""))
    cleaned = F.regexp_replace(
        raw, "(?:^|,)(?:ip|launchTimestamp|dol):[^,]*", ""
    )
    underscored = F.replace(cleaned, F.lit(" "), F.lit("_"))
    return F.btrim(F.regexp_replace(underscored, ",+", " "))


def doc_id(log_timestamp: Column | str, url: Column | str) -> Column:
    """F-8 — Solr document id ``crawl-log:<ts>/<url>`` (report.py:177)."""
    return F.concat(F.lit("crawl-log:"), _c(log_timestamp), F.lit("/"), _c(url))


@functools.cache
def is_heritrix() -> Column:
    """Variant discriminator: the record carries a thread id
    (report.py:48-49). Built once per process — it names its column, so
    it binds to any frame in any session."""
    return F.col("thread").isNotNull()


def crawler_name(thread: Column | str) -> Column:
    """F-10 — 'Heritrix' when the record carries a thread id, else
    'WebRender' (report.py:214-219; discriminator per report.py:48-49)."""
    return F.when(_c(thread).isNotNull(), F.lit("Heritrix")).otherwise(
        F.lit("WebRender")
    )


def mimetype_unified(mimetype: Column | str, content_type: Column | str) -> Column:
    """F-11 — mimetype fallback chain: Heritrix ``mimetype`` else WebRender
    ``content_type`` else 'unknown-content-type' (analysis.py:121-126)."""
    return F.coalesce(
        _c(mimetype), _c(content_type), F.lit("unknown-content-type")
    )


def status_str(status_code: Column | str) -> Column:
    """F-12 — status code as string with '-' for missing. The reference's
    ``str(status)`` turns None into "None" (analysis.py:129-133 latent bug);
    we implement the intended '-' fallback."""
    return F.coalesce(_c(status_code).cast("string"), F.lit("-"))


def launch_ts_format(ts: Column | str) -> Column:
    """F-13 — UTC ``yyyyMMddHHmmss`` launch timestamp (enqueue.py:61-70)."""
    return F.date_format(_c(ts), "yyyyMMddHHmmss")


def source_tag(tid: Column | str, first_seed: Column | str) -> Column:
    """F-15 — ``tid:<id>:<first seed>`` source tag (launcher.py:64). Built
    with concat (not concat_ws) because seed URLs contain ':'."""
    return F.concat(F.lit("tid:"), _c(tid).cast("string"), F.lit(":"), _c(first_seed))


def schedule_ts(date_string: Column | str) -> Column:
    """F-16 — parse schedule dates ``yyyy-MM-dd HH:mm:ss`` (launcher.py:70,80).
    Empty/malformed dates → NULL (try_to_timestamp): the reference treats
    an empty endDate as 'no end' (launcher.py:80-84), and ANSI mode would
    otherwise fail the whole job on one bad row."""
    return F.try_to_timestamp(_c(date_string), F.lit("yyyy-MM-dd HH:mm:ss"))


def normalize_uri(uri: Column | str) -> Column:
    """P-18 — prepend ``http://`` when no http(s) scheme (submit.py:43-44)."""
    u = _c(uri)
    return F.when(u.rlike("^https?://"), u).otherwise(F.concat(F.lit("http://"), u))


def canonical_url(url: Column | str) -> Column:
    """URL canonicalization — the intent behind the reference's declared
    but never-imported ``urlcanon`` dependency (requirements.txt:9; no
    import anywhere in crawlstreams/). Normalizations, chosen to be
    exactly reproducible in ANSI SQL for the oracle:

      1. strip the fragment
      2. lowercase scheme + authority (path/query case is significant)
      3. drop default ports (:80 for http, :443 for https)
      4. empty path before a query or end → '/'
      5. sort query parameters ('&'-split, bytewise sort — order never
         carries meaning to an origin server; makes dedup keys stable)

    Non-http(s) inputs (dns:, screenshot:, android-app: …) pass through
    unchanged — scheme-specific semantics are not this function's job.
    All regex/string built-ins → whole-stage codegen, narrow map.

    Every intermediate (no_frag, authority, rest, fixed path, query
    position) is bound ONCE via a single-element transform before reuse —
    inline chaining re-inlined the regex subtrees at every reference and
    measured 3× slower at sf0.1 (ROUNDLOG lessons 1/8)."""

    def bind(col, fn):
        # evaluate `col` once, expose it to `fn` as a lambda variable
        return F.element_at(F.transform(F.array(col), fn), 1)

    u = _c(url)

    def canon(nf):
        raw_auth = F.regexp_extract(nf, "(?i)^(https?://[^/?#]*)", 1)

        def with_auth(ra):
            auth = F.regexp_replace(
                F.regexp_replace(
                    F.lower(ra), "^(http://[^/?#]*):80$", "$1"
                ),
                "^(https://[^/?#]*):443$",
                "$1",
            )
            rest = F.substring(nf, F.length(ra) + 1, 2_000_000)

            def with_path(pf):
                def with_qpos(qpos):
                    path_part = F.when(
                        qpos > 0, F.substring(pf, 1, qpos - 1)
                    ).otherwise(pf)
                    sorted_query = F.array_join(
                        F.array_sort(
                            F.split(F.substring(pf, qpos + 1, 2_000_000), "&")
                        ),
                        "&",
                    )
                    return F.concat(
                        auth,
                        path_part,
                        F.when(
                            qpos > 0, F.concat(F.lit("?"), sorted_query)
                        ).otherwise(F.lit("")),
                    )

                return bind(F.instr(pf, "?"), with_qpos)

            return bind(
                F.when(rest == "", F.lit("/"))
                .when(rest.startswith("?"), F.concat(F.lit("/"), rest))
                .otherwise(rest),
                with_path,
            )

        return bind(raw_auth, with_auth)

    rebuilt = bind(F.regexp_replace(u, "#.*$", ""), canon)
    return F.when(u.rlike("(?i)^https?://"), rebuilt).otherwise(u)
