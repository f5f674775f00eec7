"""The analyse job's atomic JSON snapshot, on synthetic rows: both writers
(the foreachBatch sink and the rollup report) produce the documented
document, a failed write leaves the previous snapshot in place, and no
temp file survives. Runs without the reference crawl-log sample that the
end-to-end tests in test_streaming.py need."""

from __future__ import annotations

import json
import os

import pytest

from crawl_streams_spark.streaming.analysis_job import (
    _write_json_atomic,
    atomic_snapshot_writer,
    snapshot_from_rollup,
)


def test_write_json_atomic_replaces_and_cleans_up(tmp_path):
    path = tmp_path / "snap.json"
    _write_json_atomic({"n": 1}, str(path))
    _write_json_atomic({"n": 2}, str(path))
    assert json.loads(path.read_text()) == {"n": 2}
    with pytest.raises(TypeError):
        _write_json_atomic({"n": object()}, str(path))
    assert json.loads(path.read_text()) == {"n": 2}
    assert os.listdir(tmp_path) == ["snap.json"]


def test_both_snapshot_writers(spark, tmp_path):
    batch = spark.createDataFrame(
        [("a.org", 3), ("b.org", 9), ("c.org", 5)], "host string, total long"
    )
    sink = tmp_path / "sink.json"
    atomic_snapshot_writer(str(sink), top_n=2)(batch, 7)
    assert json.loads(sink.read_text()) == {
        "batch_id": 7,
        "hosts": [{"host": "b.org", "total": 9}, {"host": "c.org", "total": 5}],
    }

    rollup = str(tmp_path / "rollup")
    spark.createDataFrame(
        [("a.org", 2, 10, 100), ("a.org", 2, 20, 50), ("b.org", 3, 10, 7)],
        "host string, cnt long, bucket_start long, sum_bytes long",
    ).write.parquet(rollup)
    report = tmp_path / "report.json"
    snapshot_from_rollup(spark, rollup, str(report), top_n=5)
    assert json.loads(report.read_text()) == {
        "hosts": [
            {"host": "a.org", "total": 4, "first_bucket": 10,
             "last_bucket": 20, "bytes": 150},
            {"host": "b.org", "total": 3, "first_bucket": 10,
             "last_bucket": 10, "bytes": 7},
        ]
    }
    assert sorted(os.listdir(tmp_path)) == ["report.json", "rollup", "sink.json"]
