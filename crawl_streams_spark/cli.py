"""CLI — the reference's five console entry points (setup.py:23-27) as
subcommands over the engine's query builders:

    python -m crawl_streams_spark.cli report   --input FILE [-F fmt] [-S] [-M n]
    python -m crawl_streams_spark.cli analyse  --input DIR --output SNAPSHOT [...]
    python -m crawl_streams_spark.cli launcher --input FEED [--now TS] [--dry-run]
    python -m crawl_streams_spark.cli submit   --uri U | --file F [--dry-run]
    python -m crawl_streams_spark.cli streamer --input FILE --from TS --to TS [-l n]

Engine-side operational extensions beyond the reference surface:

    python -m crawl_streams_spark.cli etl / rollup / dedup / query / select

(``select`` composes the round-7 curation operators — source capping,
token-budget selection, leakage-safe splitting — into one pass.)

File inputs stand in for Kafka topics when no broker is configured (pass
--brokers/--topic to read Kafka instead); dispatch mirrors the reference's
argparse surface (report.py:228-281, analysis.py:200-236,
launcher.py:214-237, submit.py:59-105, streamer.py:169-208).
"""

from __future__ import annotations

import argparse
import datetime as dt
import functools
import sys


def _spark(args):
    from .session import get_spark

    return get_spark("crawl-streams-cli", master=args.master)


def _crawl_log_input(spark, args):
    from .functions import crawl as C
    from .sources import jsonl, kafka

    if args.brokers:
        df = kafka.read_topic(spark, args.brokers, args.topic)
        import pyspark.sql.functions as F

        from .schemas import CRAWL_LOG_SCHEMA

        return df.select(
            F.from_json(F.col("value").cast("string"), CRAWL_LOG_SCHEMA).alias("j")
        ).select("j.*").withColumn("is_heritrix", C.is_heritrix())
    return jsonl.read_crawl_log(spark, args.input)


def cmd_report(args) -> int:
    import pyspark.sql.functions as F

    from .operators import report as R

    spark = _spark(args)
    df = _crawl_log_input(spark, args)
    if "corrupt_record" in df.columns:
        # the reference catch-and-skips malformed records
        # (analysis.py:140-141); raw mode keeps them visible
        if args.format != "raw":
            df = df.filter(F.col("corrupt_record").isNull())
    if args.summarise:
        out = R.summarise_hosts(df)
    elif args.format == "crawl-log":
        out = R.crawl_log_lines(df).select("line")
    elif args.format == "crawl-db":
        out = R.solr_documents(df)
    elif args.format == "raw":
        out = df
    elif args.format == "jsonl":
        out = df.drop("corrupt_record", "is_heritrix").select(
            F.to_json(F.struct("*"), {"ignoreNullFields": "true"}).alias("json")
        )
    else:
        out = R.mixed_stream_lines(df)
    if args.max_messages:
        out = out.limit(args.max_messages)
    for row in out.collect():
        print(row[0] if len(row) == 1 else row.asDict())
    return 0


def cmd_analyse(args) -> int:
    from .sources.jsonl import stream_crawl_log
    from .streaming.analysis_job import (
        run_analysis,
        run_analysis_scaled,
        snapshot_from_rollup,
    )

    spark = _spark(args)
    stream = stream_crawl_log(spark, args.input)
    if args.rollup:
        # 100 TB mode: fold into the durable rollup table, snapshot = top-k
        # reporting edge over it (SURVEY §4.3)
        q = run_analysis_scaled(
            stream, args.rollup, args.checkpoint, available_now=args.once
        )
        q.awaitTermination(args.timeout if args.timeout > 0 else None)
        snapshot_from_rollup(spark, args.rollup, args.output)
        print(f"rollup at {args.rollup}; snapshot written to {args.output}")
        return 0
    q = run_analysis(
        stream,
        args.output,
        args.checkpoint,
        update_interval=f"{args.update_interval} seconds",
        available_now=args.once,
    )
    q.awaitTermination(args.timeout if args.timeout > 0 else None)
    print(f"snapshot written to {args.output}")
    return 0


def cmd_launcher(args) -> int:
    from .operators.launcher import run_launcher
    from .sources.jsonl import read_crawl_feed

    spark = _spark(args)
    now = (
        dt.datetime.fromisoformat(args.now)
        if args.now
        else dt.datetime.utcnow().replace(tzinfo=None)
    )
    msgs = run_launcher(read_crawl_feed(spark, args.input), now)
    if args.dry_run or not args.brokers:
        for m in msgs.collect():
            print(m["key"], m["value"])
    else:
        from .sources.kafka import write_to_kafka

        write_to_kafka(msgs, args.brokers, args.topic)
    return 0


def cmd_submit(args) -> int:
    from .operators.submit import submit_messages
    from .sources.jsonl import read_uri_list

    spark = _spark(args)
    if args.uri:
        uris = spark.createDataFrame([(args.uri,)], ["uri"])
    else:
        uris = read_uri_list(spark, args.file)
    now = dt.datetime.utcnow().replace(tzinfo=None)
    msgs = submit_messages(
        uris, now, source=args.source, is_seed=args.seed, force_fetch=args.forceFetch
    )
    if args.dry_run or not args.brokers:
        for m in msgs.collect():
            print(m["key"], m["value"])
    else:
        from .sources.kafka import write_to_kafka

        write_to_kafka(msgs, args.brokers, args.topic)
    return 0


def cmd_streamer(args) -> int:
    """SRC-2 event-time range scan + P-9 typed projection + limit."""
    import pyspark.sql.functions as F

    spark = _spark(args)
    if args.brokers:
        from .sources.kafka import read_topic_time_range

        t0 = int(dt.datetime.fromisoformat(args.ts_from).timestamp() * 1000)
        t1 = int(dt.datetime.fromisoformat(args.ts_to).timestamp() * 1000)
        df = read_topic_time_range(spark, args.brokers, args.topic, t0, t1)
        from .schemas import CRAWL_LOG_SCHEMA

        df = df.select(
            F.from_json(F.col("value").cast("string"), CRAWL_LOG_SCHEMA).alias("j")
        ).select("j.*")
    else:
        from .sources.jsonl import read_crawl_log

        df = read_crawl_log(spark, args.input).filter(
            (F.col("timestamp") >= args.ts_from) & (F.col("timestamp") < args.ts_to)
        )
    out = df.select(*_streamer_columns()).limit(args.limit)
    for row in out.collect():
        print(" ".join("-" if v is None else str(v) for v in row))
    return 0


@functools.cache
def _streamer_columns() -> tuple:
    """The streamer's P-9 projection, built once per process (it names its
    columns, so it binds to any frame in any session)."""
    import pyspark.sql.functions as F

    from .functions import crawl as C

    return (
        F.col("timestamp"),
        C.status_str(F.col("status_code")).alias("status"),
        F.col("url"),
        C.hop_last(F.col("hop_path")).alias("hop"),
        C.host_of("url").alias("host"),
        C.wayback_timestamp(F.col("timestamp")).alias("wayback_ts"),
    )


def cmd_etl(args) -> int:
    """Composed pipeline: parse → typed projection → clustered
    date-partitioned parquet (operators/etl.py)."""
    spark = _spark(args)
    if args.stream:
        if not args.checkpoint:
            print("--checkpoint is required with --stream", file=sys.stderr)
            return 2
        from .operators.etl import stream_warehouse
        from .sources.jsonl import stream_crawl_log

        q = stream_warehouse(
            stream_crawl_log(spark, args.input),
            args.output,
            args.checkpoint,
            available_now=True,
        )
        q.awaitTermination()
        return 0
    from .operators.etl import write_warehouse
    from .sources.jsonl import read_crawl_log

    n = write_warehouse(read_crawl_log(spark, args.input), args.output)
    print(f"wrote {n} rows to {args.output}")
    return 0


def cmd_rollup(args) -> int:
    """Incrementally fold a batch of raw events into a materialized rollup
    table (operators/rollup.py) — run per ingest batch; cost is O(batch) +
    O(touched date partitions), never a history rescan."""
    import pyspark.sql.functions as F

    from .operators.rollup import update_rollup
    from .session import apply_runtime_confs

    spark = _spark(args)
    apply_runtime_confs(spark)
    batch = spark.read.parquet(args.input)
    # TIMESTAMP(NANOS) parquet arrives as epoch-nanos LongType (see
    # tables.load_table) — normalize so date_trunc gets a real timestamp.
    if dict(batch.dtypes).get(args.ts_col) == "bigint":
        batch = batch.withColumn(
            args.ts_col,
            F.timestamp_micros(
                F.expr(f"CAST({args.ts_col} DIV 1000 AS LONG)")
            ).cast("timestamp_ntz"),
        )
    n = update_rollup(
        spark,
        batch,
        args.output,
        args.ts_col,
        args.dims.split(",") if args.dims else [],
        args.metrics.split(",") if args.metrics else [],
        grain=args.grain,
    )
    print(f"rewrote {n} date partition(s) in {args.output}")
    return 0


def cmd_dedup(args) -> int:
    """Cross-batch dedup: admit only documents not already seen, keeping a
    persistent index at --index. Exact mode keys on content digests
    (operators/dedup.py::incremental_exact_dedup); --near mode rejects
    MinHash near-duplicates of anything admitted
    (incremental_minhash_dedup)."""
    import hashlib

    import pyspark.sql.functions as F

    from .operators.dedup import (
        incremental_exact_dedup,
        incremental_minhash_dedup,
    )

    spark = _spark(args)
    batch = spark.read.parquet(args.input)
    # stable-by-default: one logical batch per input path, so retrying a
    # failed run replays idempotently instead of losing the batch
    batch_id = args.batch_id or hashlib.md5(
        args.input.encode("utf-8")
    ).hexdigest()[:12]
    if args.near:
        admitted = incremental_minhash_dedup(
            spark,
            batch,
            args.index,
            content=args.content_col,
            key=args.key_col,
            threshold=args.threshold,
            batch_id=batch_id,
        )
    else:
        admitted = incremental_exact_dedup(
            spark,
            batch,
            args.index,
            content=args.content_col,
            key=args.key_col,
            batch_id=batch_id,
        )
    # output mirrors the index's idempotence: one partition per batch,
    # dynamically overwritten, so a retried run rewrites its own rows
    # instead of appending a second copy
    out = admitted.withColumn("batch_id", F.lit(batch_id))
    out.write.partitionBy("batch_id").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(args.output)
    # the written frame's schema, not inference: a run that admits no
    # rows may leave no data file to infer from
    n = spark.read.schema(out.schema).parquet(args.output).count()
    print(f"admitted rows appended to {args.output} (total now {n})")
    return 0


def cmd_select(args) -> int:
    """Corpus selection pipeline (round-7 operators composed as one
    operational pass, applied in pipeline order):

    1. ``--mix-alpha A [--mix-budget N]``: temperature-resample sources
       toward n^A proportions (pipeline.temperature_mix — round 8).
    2. ``--cap-source FRAC``: no source exceeds FRAC of the corpus
       weight (pipeline.cap_source_share — deterministic salted-uniform
       downsampling; the corpus never shuffles).
    3. ``--budget N``: best-first cut at an inclusive running weight
       total over (weight desc, key) (pipeline.take_token_budget —
       distributed cumsum, no single-partition window).
    4. ``--clusters PATH``: leakage-safe train/val/test split keyed by
       the duplicate-cluster representative (pipeline.leakage_safe_split;
       the parquet at PATH is (key, cluster), e.g. cluster_duplicates
       output). Without it, a plain per-document split_assign.

    Output is written split-partitioned when a split is requested."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from .operators.pipeline import (
        cap_source_share,
        leakage_safe_split,
        split_assign,
        take_token_budget,
        temperature_mix,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    n0 = df.count()
    if args.mix_alpha is not None:
        df = temperature_mix(
            df,
            alpha=args.mix_alpha,
            budget_docs=args.mix_budget,
            source_col=args.source_col,
            key=args.key_col,
        )
    if args.cap_source is not None:
        df = cap_source_share(
            df,
            weight_col=args.weight_col,
            max_share=args.cap_source,
            source_col=args.source_col,
            key=args.key_col,
        )
    if args.budget is not None:
        df = take_token_budget(
            df,
            [(args.weight_col, "desc"), (args.key_col, "asc")],
            args.weight_col,
            args.budget,
        ).drop("cum_tokens")
    writer_partition = None
    if args.split:
        train, val = (float(x) for x in args.split.split(","))
        if args.clusters:
            clusters = spark.read.parquet(args.clusters)
            df = leakage_safe_split(
                df, clusters, key=args.key_col, train=train, val=val
            )
        else:
            df = df.withColumn(
                "split", split_assign(args.key_col, train, val)
            )
        writer_partition = "split"
    # count during the write: re-reading the output would need a data
    # file to infer its schema from, and a selection of no rows has none
    splits = ("train", "val", "test") if writer_partition else ()
    written = Observation()
    w = df.observe(
        written,
        F.count(F.lit(1)).alias("n"),
        *[F.count_if(F.col("split") == s).alias(s) for s in splits],
    ).write.mode("overwrite")
    if writer_partition:
        w = w.partitionBy(writer_partition)
    w.parquet(args.output)
    counts = written.get
    print(f"selected {counts['n']}/{n0} rows -> {args.output}")
    for s in splits:
        if counts[s]:
            print(f"  {s}: {counts[s]}")
    return 0


def cmd_query(args) -> int:
    """Run or explain any registered driver-contract query by name — the
    operational front door to the whole §2 registry, and the plan-audit
    loop (`--explain` prints the physical plan plus the scale counters
    pinned in tests/plan_snapshots.json)."""
    from .plans import REGISTRY
    from .plans.audit import plan_metrics

    if args.name == "list" and args.name not in REGISTRY:
        for name in sorted(REGISTRY):
            q = REGISTRY[name]
            mark = "bench" if q.bench else ("oracle" if q.oracle else "rows-only")
            print(f"{name:36s} [{mark}] {' '.join(sorted(q.tags))}")
        return 0
    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; try 'query list'", file=sys.stderr)
        return 2
    spark = _spark(args)
    df = REGISTRY[args.name].build(spark, args.sf_dir)
    if args.explain:
        print(df._jdf.queryExecution().executedPlan().toString())
        print("plan metrics:", plan_metrics(df))
        return 0
    rows = df.limit(args.limit).collect()
    cols = df.columns
    print("\t".join(cols))
    for r in rows:
        print("\t".join("-" if r[c] is None else str(r[c]) for c in cols))
    return 0


def cmd_table(args) -> int:
    """Operational verbs for a transactional table (the Delta-CLI
    surface over operators/txlog.py): inspect history, show the live
    state or a past version, and run the lifecycle pieces —
    compact (1-D cluster or multi-dim ZORDER), log retention, vacuum,
    the one-call maintain policy, and RESTORE rollback."""
    import json as _json

    from .operators.txlog import TxError, TxTable

    spark = _spark(args)
    try:
        t = TxTable(spark, args.path)
        if args.action == "history":
            for h in t.history():
                print(_json.dumps(h))
        elif args.action == "show":
            if args.as_of_ts is not None:
                df = t.read_at_timestamp(args.as_of_ts)
            elif args.version is not None:
                df = t.read_version(args.version)
            else:
                df = t.read()
            rows = df.limit(args.limit).collect()
            print("\t".join(df.columns))
            for r in rows:
                print("\t".join(
                    "-" if r[c] is None else str(r[c])
                    for c in df.columns
                ))
        elif args.action == "compact":
            n = t.compact(
                min_files=args.min_files,
                cluster_by=args.cluster_by.split(",")
                if args.cluster_by else None,
                zorder_by=args.zorder_by.split(",")
                if args.zorder_by else None,
                max_rows_per_file=args.max_rows_per_file,
            )
            print(_json.dumps({"compacted_partitions": n}))
        elif args.action == "clean-log":
            print(_json.dumps(
                {"deleted": t.clean_log(args.retention)}
            ))
        elif args.action == "vacuum":
            files = t.vacuum_orphans(args.retention,
                                     dry_run=args.dry_run)
            key = "would_delete" if args.dry_run else "deleted"
            print(_json.dumps({key: files}))
        elif args.action == "maintain":
            print(_json.dumps(t.maintain(
                every_n_commits=args.every_n_commits,
                compact_min_files=args.min_files,
                log_retention_seconds=args.retention,
                vacuum_retention_seconds=args.vacuum_retention,
                cluster_by=args.cluster_by.split(",")
                if args.cluster_by else None,
                zorder_by=args.zorder_by.split(",")
                if args.zorder_by else None,
                force=args.force,
            )))
        elif args.action == "restore":
            if args.version is None:
                print("restore needs --version", file=sys.stderr)
                return 2
            print(_json.dumps(
                {"restored_to": args.version,
                 "new_version": t.restore(args.version)}
            ))
        elif args.action == "delete":
            if not args.where:
                print("delete needs --where", file=sys.stderr)
                return 2
            print(_json.dumps({"deleted": t.delete_where(args.where)}))
        elif args.action == "changes":
            if args.start_version is None:
                print("changes needs --start-version", file=sys.stderr)
                return 2
            df = t.table_changes(args.start_version, args.end_version)
            rows = df.limit(args.limit).collect()
            print("\t".join(df.columns))
            for r in rows:
                print("\t".join(
                    "-" if r[c] is None else str(r[c])
                    for c in df.columns
                ))
        elif args.action == "update":
            if not args.where or not args.set:
                print("update needs --where and --set col=expr",
                      file=sys.stderr)
                return 2
            if any("=" not in s for s in args.set):
                print("update needs --set col=expr", file=sys.stderr)
                return 2
            assignments = dict(s.split("=", 1) for s in args.set)
            print(_json.dumps(
                {"updated": t.update_where(args.where, assignments)}
            ))
    except TxError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="crawl-streams-spark")
    p.add_argument("--master", default=None, help="spark master override")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("report", help="scan + format a crawl-log stream")
    r.add_argument("--input", help="JSONL crawl log (file mode)")
    r.add_argument("--brokers", default=None)
    r.add_argument("--topic", default="fc.crawled")
    r.add_argument("-F", "--format", default="mixed",
                   choices=["raw", "jsonl", "crawl-log", "crawl-db", "mixed"])
    r.add_argument("-S", "--summarise", action="store_true")
    r.add_argument("-M", "--max-messages", type=int, default=None)
    r.set_defaults(fn=cmd_report)

    a = sub.add_parser("analyse", help="continuous host-stats snapshot job")
    a.add_argument("--input", required=True, help="stream dir (file mode)")
    a.add_argument("--output", required=True, help="snapshot json path")
    a.add_argument("--checkpoint", required=True)
    a.add_argument("-u", "--update-interval", type=int, default=10)
    a.add_argument("--once", action="store_true", help="drain available input and stop")
    a.add_argument("--timeout", type=int, default=-1)
    a.add_argument(
        "--rollup",
        default=None,
        help="durable rollup table dir: scale mode (state lives in the "
        "table, snapshot becomes a top-k read of it)",
    )
    a.set_defaults(fn=cmd_analyse)

    l = sub.add_parser("launcher", help="scheduled seed launcher")
    l.add_argument("--input", required=True, help="crawl feed JSONL")
    l.add_argument("--now", default=None, help="ISO datetime override")
    l.add_argument("--brokers", default=None)
    l.add_argument("--topic", default="fc.tocrawl")
    l.add_argument("--dry-run", action="store_true")
    l.set_defaults(fn=cmd_launcher)

    s = sub.add_parser("submit", help="enqueue one URI or a file of URIs")
    g = s.add_mutually_exclusive_group(required=True)
    g.add_argument("--uri")
    g.add_argument("--file")
    s.add_argument("--source", default="")
    s.add_argument("--seed", action="store_true")
    s.add_argument("--forceFetch", action="store_true")
    s.add_argument("--brokers", default=None)
    s.add_argument("--topic", default="fc.tocrawl")
    s.add_argument("--dry-run", action="store_true")
    s.set_defaults(fn=cmd_submit)

    st = sub.add_parser("streamer", help="event-time range scan")
    st.add_argument("--input", help="JSONL crawl log (file mode)")
    st.add_argument("--brokers", default=None)
    st.add_argument("--topic", default="fc.crawled")
    st.add_argument("--from", dest="ts_from", required=True)
    st.add_argument("--to", dest="ts_to", required=True)
    st.add_argument("-l", "--limit", type=int, default=50)
    st.set_defaults(fn=cmd_streamer)

    e = sub.add_parser(
        "etl", help="crawl-log -> date-partitioned parquet warehouse"
    )
    e.add_argument("--input", required=True, help="JSONL crawl log file/dir")
    e.add_argument("--output", required=True, help="warehouse directory")
    e.add_argument("--stream", action="store_true", help="streaming append mode")
    e.add_argument("--checkpoint", default=None, help="required with --stream")
    e.set_defaults(fn=cmd_etl)

    ru = sub.add_parser(
        "rollup", help="fold a batch of events into a materialized rollup"
    )
    ru.add_argument("--input", required=True, help="batch parquet file/dir")
    ru.add_argument("--output", required=True, help="rollup table directory")
    ru.add_argument("--ts-col", default="ts")
    ru.add_argument("--dims", default="", help="comma-separated dimension cols")
    ru.add_argument("--metrics", default="", help="comma-separated metric cols")
    ru.add_argument("--grain", default="hour",
                    choices=["minute", "hour", "day", "week", "month"])
    ru.set_defaults(fn=cmd_rollup)

    de = sub.add_parser(
        "dedup",
        help="cross-batch dedup vs a persistent index (exact digests, or "
        "MinHash near-dup with --near)",
    )
    de.add_argument("--input", required=True, help="batch parquet file/dir")
    de.add_argument("--index", required=True, help="dedup index directory")
    de.add_argument("--output", required=True, help="admitted-rows directory")
    de.add_argument("--content-col", default="text")
    de.add_argument("--key-col", default="doc_id")
    de.add_argument(
        "--near",
        action="store_true",
        help="near-duplicate mode: MinHash signature index + LSH banding",
    )
    de.add_argument(
        "--threshold",
        type=float,
        default=0.8,
        help="estimated-Jaccard rejection threshold (--near only)",
    )
    de.add_argument(
        "--batch-id",
        default=None,
        help="stable unique id for this batch (replay-idempotent index "
        "writes); defaults to a digest of --input, so re-running the same "
        "input replays instead of double-indexing",
    )
    de.set_defaults(fn=cmd_dedup)

    se = sub.add_parser(
        "select",
        help="corpus selection: source capping, token budget, "
        "leakage-safe split",
    )
    se.add_argument("--input", required=True, help="parquet corpus")
    se.add_argument("--output", required=True)
    se.add_argument("--key-col", default="doc_id")
    se.add_argument("--weight-col", default="n_chars")
    se.add_argument("--source-col", default="source")
    se.add_argument(
        "--cap-source", type=float, default=None,
        help="max share of corpus weight any source may hold (e.g. 0.25)",
    )
    se.add_argument(
        "--mix-alpha", type=float, default=None,
        help="temperature-mix sources toward n^alpha proportions "
        "(e.g. 0.5; runs before capping)",
    )
    se.add_argument(
        "--mix-budget", type=int, default=None,
        help="document budget for --mix-alpha (default: largest "
        "downsample-only budget)",
    )
    se.add_argument(
        "--budget", type=int, default=None,
        help="keep best rows while the running weight total fits",
    )
    se.add_argument(
        "--split", default=None, metavar="TRAIN,VAL",
        help="write train/val/test-partitioned output (e.g. 0.9,0.05)",
    )
    se.add_argument(
        "--clusters", default=None,
        help="(key, cluster) parquet for a leakage-safe split",
    )
    se.set_defaults(fn=cmd_select)

    tb = sub.add_parser(
        "table",
        help="transactional-table ops: history/show/compact/clean-log/"
        "vacuum/maintain/restore/delete/update/changes",
    )
    tb.add_argument(
        "action",
        choices=["history", "show", "compact", "clean-log", "vacuum",
                 "maintain", "restore", "delete", "update", "changes"],
    )
    tb.add_argument("--start-version", type=int, default=None,
                    help="changes: deliver commits AFTER this version")
    tb.add_argument("--end-version", type=int, default=None,
                    help="changes: stop at this version (default latest)")
    tb.add_argument("--where", default=None,
                    help="SQL predicate for delete/update")
    tb.add_argument("--set", action="append", default=None,
                    metavar="COL=EXPR",
                    help="assignment for update (repeatable)")
    tb.add_argument("--path", required=True, help="table directory")
    tb.add_argument("--version", type=int, default=None,
                    help="version for show/restore")
    tb.add_argument("--as-of-ts", type=float, default=None,
                    help="unix-seconds timestamp for show (TIMESTAMP "
                    "AS OF)")
    tb.add_argument("-l", "--limit", type=int, default=20)
    tb.add_argument("--min-files", type=int, default=4,
                    help="compaction threshold per partition")
    tb.add_argument("--cluster-by", default=None,
                    help="comma-separated 1-D sort columns (compact)")
    tb.add_argument("--zorder-by", default=None,
                    help="comma-separated Morton-cluster columns "
                    "(compact/maintain)")
    tb.add_argument("--max-rows-per-file", type=int, default=None)
    tb.add_argument("--retention", type=float, default=7 * 24 * 3600.0,
                    help="seconds for clean-log / log step of maintain")
    tb.add_argument("--vacuum-retention", type=float, default=24 * 3600.0)
    tb.add_argument("--every-n-commits", type=int, default=50)
    tb.add_argument("--force", action="store_true",
                    help="run maintain now regardless of cadence")
    tb.add_argument("--dry-run", action="store_true",
                    help="vacuum: report the would-be deletions "
                    "without touching any file")
    tb.set_defaults(fn=cmd_table)

    q = sub.add_parser(
        "query", help="run or explain a registered query ('query list')"
    )
    q.add_argument("name", help="query name from the registry, or 'list'")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("-l", "--limit", type=int, default=20)
    q.add_argument(
        "--explain",
        action="store_true",
        help="print the physical plan + scale counters instead of rows",
    )
    q.set_defaults(fn=cmd_query)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
