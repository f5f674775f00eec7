"""CLI smoke tests — every reference console entry point (setup.py:23-27)
has a working analog subcommand."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from crawl_streams_spark.cli import main

from .fixtures import crawl_log_path, write_crawl_feed

#: only the cases that read the reference crawl-log sample need it
needs_sample = pytest.mark.skipif(
    crawl_log_path() is None, reason="reference sample not available"
)


@needs_sample
def test_report_crawl_log(capsys, spark):
    assert (
        main(
            [
                "report",
                "--input",
                crawl_log_path(),
                "-F",
                "crawl-log",
                "-M",
                "5",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5
    assert all("https://" in line or "http://" in line for line in out)


@needs_sample
def test_report_summarise(capsys, spark):
    assert main(["report", "--input", crawl_log_path(), "-S", "-M", "3"]) == 0
    out = capsys.readouterr().out
    assert "hostname" in out and "tot" in out


@needs_sample
def test_streamer_range(capsys, spark):
    assert (
        main(
            [
                "streamer",
                "--input",
                crawl_log_path(),
                "--from",
                "2021-01-16T17:04:20",
                "--to",
                "2021-01-16T17:04:30",
                "-l",
                "3",
            ]
        )
        == 0
    )
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 3
    for line in lines:
        ts = line.split(" ")[0]
        assert "2021-01-16T17:04:20" <= ts < "2021-01-16T17:04:30"


def test_submit_dry_run(capsys, spark):
    assert main(["submit", "--uri", "example.org/x", "--dry-run"]) == 0
    key, value = capsys.readouterr().out.strip().split(" ", 1)
    assert len(key) == 8
    doc = json.loads(value)
    assert doc["url"] == "http://example.org/x"  # P-18 normalization


def test_launcher_dry_run(capsys, spark, tmp_path):
    feed = write_crawl_feed(str(tmp_path))
    assert (
        main(
            [
                "launcher",
                "--input",
                feed,
                "--now",
                "2020-01-01T09:00:00",
                "--dry-run",
            ]
        )
        == 0
    )
    lines = capsys.readouterr().out.strip().splitlines()
    # golden decision: targets {2, 11, 12} → 4 seed messages (12 has 2 seeds)
    assert len(lines) == 4
    for line in lines:
        key, value = line.split(" ", 1)
        doc = json.loads(value)
        assert doc["parentUrlMetadata"]["heritableData"]["launchTimestamp"] == "20200101090000"


@needs_sample
def test_analyse_once(capsys, spark, tmp_path):
    import shutil

    d = tmp_path / "in"
    d.mkdir()
    shutil.copy(crawl_log_path(), d / "b0.json")
    snap = tmp_path / "snap.json"
    assert (
        main(
            [
                "analyse",
                "--input",
                str(d),
                "--output",
                str(snap),
                "--checkpoint",
                str(tmp_path / "ck"),
                "--once",
                "--timeout",
                "120",
            ]
        )
        == 0
    )
    doc = json.loads(snap.read_text())
    assert doc["hosts"]


def test_query_list(capsys, spark):
    assert main(["query", "list"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) > 80
    assert any(line.startswith("event_type_stats") for line in out)


def test_query_run(capsys, spark, sf_dir):
    assert main(["query", "event_type_stats", "--sf-dir", sf_dir, "-l", "3"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split("\t")[0] == "event_type"
    assert len(out) == 4  # header + 3 rows


def test_query_explain(capsys, spark, sf_dir):
    assert main(["query", "pack_sequences", "--sf-dir", sf_dir, "--explain"]) == 0
    out = capsys.readouterr().out
    assert "FileScan parquet" in out and "plan metrics:" in out


def test_query_unknown(capsys, spark):
    assert main(["query", "nope_not_a_query"]) == 2


def test_rollup_update(capsys, spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "roll")
    events = f"{sf_dir}/events.parquet"
    args = [
        "rollup", "--input", events, "--output", out_dir,
        "--ts-col", "ts", "--dims", "event_type", "--metrics", "value",
    ]
    assert main(args) == 0
    assert "rewrote" in capsys.readouterr().out
    first = spark.read.parquet(out_dir).agg({"cnt": "sum"}).collect()[0][0]
    assert main(args) == 0  # fold the same batch again: counts double
    second = spark.read.parquet(out_dir).agg({"cnt": "sum"}).collect()[0][0]
    assert second == 2 * first


@needs_sample
def test_analyse_rollup_mode(capsys, spark, tmp_path):
    import shutil

    src = tmp_path / "in"
    src.mkdir()
    shutil.copy(crawl_log_path(), src / "b0.json")
    roll, snap = str(tmp_path / "roll"), str(tmp_path / "snap.json")
    assert (
        main(
            [
                "analyse",
                "--input", str(src),
                "--output", snap,
                "--checkpoint", str(tmp_path / "ckpt"),
                "--rollup", roll,
                "--once",
            ]
        )
        == 0
    )
    doc = json.load(open(snap))
    assert doc["hosts"] and doc["hosts"][0]["total"] > 0
    assert spark.read.parquet(roll).count() > 0


def test_dedup_cli(capsys, spark, sf_dir, tmp_path):
    docs = f"{sf_dir}/documents.parquet"
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    args = ["dedup", "--input", docs, "--index", idx, "--output", out]
    assert main(args) == 0
    first = spark.read.parquet(out).count()
    assert first > 0
    # same input → same derived batch_id → replay semantics: the batch is
    # re-admitted identically and its output partition overwritten, so the
    # total is unchanged (idempotent, and crash-safe — ADVICE r2 high)
    assert main(args) == 0
    assert spark.read.parquet(out).count() == first


def test_dedup_cli_near_mode(capsys, spark, sf_dir, tmp_path):
    docs = f"{sf_dir}/documents.parquet"
    idx, out = str(tmp_path / "nidx"), str(tmp_path / "nout")
    args = [
        "dedup", "--near", "--threshold", "0.7",
        "--input", docs, "--index", idx, "--output", out,
    ]
    assert main(args) == 0
    first = spark.read.parquet(out).count()
    assert first > 0
    # replay of the same input: identical re-admission, overwritten in place
    assert main(args) == 0
    assert spark.read.parquet(out).count() == first


def test_dedup_cli_empty_batch(capsys, spark, tmp_path):
    """A batch with no rows admits none: the total is counted with the
    written frame's schema, since the output holds no data file to infer
    one from."""
    docs = str(tmp_path / "empty_docs")
    spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(docs)
    out = str(tmp_path / "empty_out")
    args = ["dedup", "--input", docs, "--index", str(tmp_path / "idx"),
            "--output", out]
    assert main(args) == 0
    assert "(total now 0)" in capsys.readouterr().out


def test_select_pipeline_end_to_end(capsys, spark, tmp_path):
    """cli select composes the round-7 curation operators: source cap →
    token budget → leakage-safe split, written split-partitioned."""
    import pyspark.sql.functions as F

    corpus = str(tmp_path / "corpus")
    rows = [(i, f"s{i % 4}" if i >= 2000 else "hot", 40 + i % 30)
            for i in range(3000)]
    spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    ).write.parquet(corpus)
    # duplicate clusters: docs 0-9 share cluster 0
    clusters = str(tmp_path / "clusters")
    spark.createDataFrame(
        [(i, 0) for i in range(10)], "key long, cluster long"
    ).write.parquet(clusters)

    out = str(tmp_path / "out")
    rc = main([
        "select", "--input", corpus, "--output", out,
        "--cap-source", "0.30", "--budget", "60000",
        "--split", "0.8,0.1", "--clusters", clusters,
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    assert {"doc_id", "source", "n_chars", "split"} <= set(got.columns)
    n = got.count()
    assert 0 < n < 3000  # cap + budget both removed rows
    total = got.agg(F.sum("n_chars")).first()[0]
    assert total <= 60000
    # the leakage invariant on the clustered docs that survived
    cl = got.filter(F.col("doc_id") < 10)
    if cl.count() > 1:
        assert cl.select("split").distinct().count() == 1
    printed = capsys.readouterr().out
    assert "selected" in printed


def test_select_pipeline_with_temperature_mix(capsys, spark, tmp_path):
    """cli select runs the round-8 mixing stage before capping: a
    dominant source is flattened toward its sqrt share."""
    import pyspark.sql.functions as F

    corpus = str(tmp_path / "mix_corpus")
    rows = [(i, "dominant" if i < 1800 else "minor", 50)
            for i in range(2000)]
    spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    ).write.parquet(corpus)
    out = str(tmp_path / "mix_out")
    rc = main([
        "select", "--input", corpus, "--output", out,
        "--mix-alpha", "0.5", "--mix-budget", "800",
    ])
    assert rc == 0
    got = spark.read.parquet(out)
    counts = {
        r["source"]: r["count"]
        for r in got.groupBy("source").count().collect()
    }
    # natural dominant share 0.9 -> sqrt-share target 0.75
    share = counts["dominant"] / (counts["dominant"] + counts["minor"])
    assert share < 0.85
    assert counts["minor"] > 150  # minor source preserved near target


def test_select_empty_input_with_split(capsys, spark, tmp_path):
    """A selection of no rows leaves the split-partitioned output with no
    data file; the counts come from the write itself, not a re-read."""
    corpus = str(tmp_path / "empty_corpus")
    spark.createDataFrame(
        [], "doc_id long, source string, n_chars long"
    ).write.parquet(corpus)
    out = str(tmp_path / "empty_sel")
    rc = main([
        "select", "--input", corpus, "--output", out,
        "--cap-source", "0.30", "--split", "0.8,0.1",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert f"selected 0/0 rows -> {out}" in printed
    assert "train:" not in printed


def test_table_cli_lifecycle(capsys, spark, tmp_path):
    """The `table` subcommand (r12): the Delta-CLI-style operational
    surface over TxTable — history/show as inspection, compact with
    ZORDER, maintain as the one-call lifecycle, restore as rollback."""
    from crawl_streams_spark.operators.txlog import TxTable

    path = str(tmp_path / "cli_tbl")
    t = TxTable.create(
        spark, path,
        spark.createDataFrame(
            [(i, i * 7 % 50, "d1") for i in range(40)],
            "x long, y long, day string",
        ),
        partition_by=["day"],
    )
    t.append(spark.createDataFrame([(100, 1, "d1")],
                                   "x long, y long, day string"))

    assert main(["table", "history", "--path", path]) == 0
    hist = [json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines()]
    assert [h["operation"] for h in hist] == ["CREATE", "APPEND"]

    assert main(["table", "show", "--path", path, "-l", "5"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split("\t") == ["x", "y", "day"] and len(out) == 6

    assert main([
        "table", "compact", "--path", path,
        "--min-files", "2", "--zorder-by", "x,y",
    ]) == 0
    assert json.loads(capsys.readouterr().out)["compacted_partitions"] == 1

    assert main([
        "table", "maintain", "--path", path, "--force",
        "--min-files", "2", "--retention", "0", "--vacuum-retention", "0",
    ]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["ran"] is True

    assert main([
        "table", "restore", "--path", path, "--version", "1",
    ]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["restored_to"] == 1
    assert main(["table", "show", "--path", path, "--version", "1",
                 "-l", "50"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == 42

    # TIMESTAMP AS OF through the CLI: "now" resolves to the live state
    import time as _time

    assert main(["table", "show", "--path", path,
                 "--as-of-ts", str(_time.time()), "-l", "50"]) == 0
    live = len(capsys.readouterr().out.strip().splitlines())
    assert main(["table", "show", "--path", path, "-l", "50"]) == 0
    assert len(capsys.readouterr().out.strip().splitlines()) == live

    # maintain forwards --cluster-by (ADVICE r12: it was silently
    # dropped while the flag sat on the same subparser)
    t.append(spark.createDataFrame([(101, 2, "d1"), (102, 3, "d1")],
                                   "x long, y long, day string"))
    assert main([
        "table", "maintain", "--path", path, "--force",
        "--min-files", "2", "--cluster-by", "x",
    ]) == 0
    rep = json.loads(capsys.readouterr().out)
    assert rep["ran"] is True and rep["compacted"] >= 1

    # row-level DML through the CLI
    assert main(["table", "update", "--path", path,
                 "--where", "x = 100", "--set", "y=y + 1"]) == 0
    assert json.loads(capsys.readouterr().out)["updated"] == 1
    assert main(["table", "delete", "--path", path,
                 "--where", "x = 100"]) == 0
    assert json.loads(capsys.readouterr().out)["deleted"] == 1
    assert main(["table", "delete", "--path", path]) == 2  # no --where
    # malformed --set operand: friendly usage error, not a traceback
    # (ADVICE r12)
    assert main(["table", "update", "--path", path,
                 "--where", "x = 101", "--set", "nonsense"]) == 2
    assert "--set col=expr" in capsys.readouterr().err

    # errors surface as exit code 1 with a message, not tracebacks
    assert main(["table", "history", "--path", str(tmp_path / "nope")]) == 1
    assert "error:" in capsys.readouterr().err


def test_table_cli_change_feed(capsys, spark, tmp_path):
    """`table changes` (r13): the row-level Change Data Feed through
    the CLI — the operational companion to delete/update."""
    from crawl_streams_spark.operators.txlog import TxTable

    path = str(tmp_path / "cli_cdf")
    t = TxTable.create(
        spark, path,
        spark.createDataFrame([(1, 10, "d1"), (2, 20, "d1")],
                              "x long, y long, day string"),
        partition_by=["day"],
        configuration={"enableChangeDataFeed": "true"},
    )
    assert main(["table", "update", "--path", path,
                 "--where", "x = 1", "--set", "y=11"]) == 0
    capsys.readouterr()
    assert main(["table", "changes", "--path", path,
                 "--start-version", "0", "-l", "10"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    header = out[0].split("\t")
    assert "_change_type" in header and "_commit_version" in header
    types = {line.split("\t")[header.index("_change_type")]
             for line in out[1:]}
    assert types == {"update_preimage", "update_postimage"}
    # missing --start-version: usage error
    assert main(["table", "changes", "--path", path]) == 2
    assert "--start-version" in capsys.readouterr().err
