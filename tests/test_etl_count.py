"""The etl command's row count comes from the write itself: an observed
metric on the frame handed to the parquet writer, not a read-back of the
output (operators/layout.py::clustered_write)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from crawl_streams_spark.cli import main
from crawl_streams_spark.operators.etl import warehouse_rows, write_warehouse
from crawl_streams_spark.operators.layout import clustered_write
from crawl_streams_spark.sources.jsonl import read_crawl_log
from crawl_streams_spark.tables import load_table

from .fixtures import write_crawl_log_sample

#: lines cut mid-record, as a crashed writer leaves them
MALFORMED = [
    '{"url": "https://a.example.org/", "timestamp": "2021-01-16T17:04',
    '{"url": "https://b.example.org/", "status_',
    "not json at all",
]


def _all_malformed(tmp_path) -> str:
    path = tmp_path / "malformed.jsonl"
    path.write_text("\n".join(MALFORMED) + "\n")
    return str(path)


def test_etl_with_no_valid_rows(capsys, spark, tmp_path):
    """Every line malformed: etl exits 0, reports 0 rows and leaves an
    empty warehouse that reads back under the warehouse schema (reading
    it back with schema inference used to raise UNABLE_TO_INFER_SCHEMA)."""
    src, out = _all_malformed(tmp_path), str(tmp_path / "wh")
    assert main(["etl", "--input", src, "--output", out]) == 0
    assert capsys.readouterr().out == f"wrote 0 rows to {out}\n"
    assert os.path.exists(os.path.join(out, "_SUCCESS"))
    schema = warehouse_rows(read_crawl_log(spark, src)).schema
    assert spark.read.schema(schema).parquet(out).count() == 0


def test_etl_count_matches_the_written_rows(capsys, spark, tmp_path):
    src, out = write_crawl_log_sample(str(tmp_path)), str(tmp_path / "wh")
    assert main(["etl", "--input", src, "--output", out]) == 0
    assert capsys.readouterr().out == f"wrote 240 rows to {out}\n"
    assert spark.read.parquet(out).count() == 240


def test_write_count_is_observed_after_the_sort(spark, sf_dir, tmp_path):
    """The observation sits above the shuffle and the sort. Below the
    shuffle, AQE drops the stage once every row is filtered out at run
    time, the metric never arrives and reading it fails on exactly these
    inputs."""
    n = write_warehouse(
        read_crawl_log(spark, _all_malformed(tmp_path)), str(tmp_path / "wh")
    )
    assert n == 0
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    assert clustered_write(
        ev.filter(F.col("user_id") < F.lit(-1)),
        str(tmp_path / "none"),
        partition_by=["event_type"],
        cluster_by=["user_id"],
    ) == 0
