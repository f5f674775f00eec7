"""The crawl CLI's fixed projections are built once per process.

Each projection is a ``functools.cache`` builder keyed only on structural
flags (whether ``parentUrl`` or ``seq`` exists); the Columns it returns name
their inputs, so they bind to any frame in any session. These tests pin the
reuse (a second call returns the same Column objects), that outputs are
unchanged, and that the cached Columns survive a session
restart in the same process."""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F
import pytest

from crawl_streams_spark import cli
from crawl_streams_spark.cli import main
from crawl_streams_spark.functions import crawl as C
from crawl_streams_spark.operators import etl
from crawl_streams_spark.operators import report as R
from crawl_streams_spark.sources import jsonl

from .fixtures import write_crawl_log_sample

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: sha256 of each command's standard output over ``write_crawl_log_sample``,
#: recorded from the per-call construction these builders replaced
#: (local[4], 4 shuffle partitions, as in conftest). Each of these prints
#: rows in input order, so the bytes are stable across plan changes.
GOLDEN = {
    "report-raw": "a780be85b1d40573b2f07d79f6dbc280b5ae25b8ecef1398bd4ad47af47afb22",
    "report-jsonl": "0f1742cd78b72115d72bb4a6201eea0e4aadca98e912f18168e41c9f4ff6ecf5",
    "report-crawl-log": "b11c1274d75ade5a9e6f40d127c0607452a38bcb45c573a205db1473d5ff0c49",
    "report-crawl-db": "651774472a2cbc7df26766558a8610a86cdc6fbac324fe037a5e71fe66d66b2a",
    "report-mixed": "7779a036b270d3071fa023ea8ab3c832e1abbd8c5b817d40ff9cae70fdb9638e",
    "streamer": "fb3990b19c4145d2e06ac9166a436f99cde0aaf13acf70ea5464267db1f7c14d",
}

#: report -S over the same sample, as the per-call construction printed
#: it. The summary is a groupBy with no ordering, so the lines are
#: compared as a set.
SUMMARY = {
    "{'hostname': 'WWW.Example.COM', 'tot': 14, 'first_cross_via': 'https://h3.example.org/'}",
    "{'hostname': 'h0.example.org', 'tot': 22, 'first_cross_via': 'https://h2.example.org/'}",
    "{'hostname': 'h1.example.org', 'tot': 15, 'first_cross_via': 'https://h11.example.org/'}",
    "{'hostname': 'h10.example.org', 'tot': 14, 'first_cross_via': 'https://h3.example.org/'}",
    "{'hostname': 'h11.example.org', 'tot': 15, 'first_cross_via': 'https://h7.example.org/'}",
    "{'hostname': 'h2.example.org', 'tot': 17, 'first_cross_via': 'https://h8.example.org/'}",
    "{'hostname': 'h3.example.org', 'tot': 10, 'first_cross_via': 'https://h8.example.org/'}",
    "{'hostname': 'h4.example.org', 'tot': 14, 'first_cross_via': 'https://h8.example.org/'}",
    "{'hostname': 'h5.example.org', 'tot': 19, 'first_cross_via': 'https://h7.example.org/'}",
    "{'hostname': 'h6.example.org', 'tot': 13, 'first_cross_via': 'https://h7.example.org/'}",
    "{'hostname': 'h7.example.org', 'tot': 22, 'first_cross_via': 'https://h5.example.org/'}",
    "{'hostname': 'h8.example.org', 'tot': 16, 'first_cross_via': 'https://h10.example.org/'}",
    "{'hostname': 'h9.example.org', 'tot': 19, 'first_cross_via': 'https://h5.example.org/'}",
}
WINDOW = ["2021-01-16T23:58:30", "2021-01-17T00:01:00"]


def _commands(path: str) -> dict[str, list[str]]:
    cmds = {
        f"report-{f}": ["report", "--input", path, "-F", f]
        for f in ["raw", "jsonl", "crawl-log", "crawl-db", "mixed"]
    }
    cmds["streamer"] = ["streamer", "--input", path, "--from", WINDOW[0],
                        "--to", WINDOW[1], "-l", "100000"]
    return cmds


def _run(argv: list[str]) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(argv) == 0
    return buf.getvalue()


@pytest.fixture(scope="module")
def sample(tmp_path_factory):
    return write_crawl_log_sample(str(tmp_path_factory.mktemp("crawl")))


def test_builders_return_the_same_columns(spark):
    """A second call hands back the very same Column objects — the py4j
    construction is paid once per process, not once per call."""
    builders = [
        (etl._warehouse_projection, ()),
        (C.is_heritrix, ()),
        (R._crawl_log_line, ()),
        (R._solr_document, ()),
        (cli._streamer_columns, ()),
    ]
    builders += [(R._mixed_line, (p,)) for p in (False, True)]
    builders += [
        (R._host_summary, (p, s)) for p in (False, True) for s in (False, True)
    ]
    for build, args in builders:
        first, again = build(*args), build(*args)
        assert again is first, build.__name__


def test_public_operators_reuse_the_builders(spark, sample):
    df = jsonl.read_crawl_log(spark, sample)
    etl.warehouse_rows(df)
    R.summarise_hosts(df)
    R.crawl_log_lines(df)
    R.mixed_stream_lines(df)
    R.solr_documents(df)
    builders = [etl._warehouse_projection, R._host_summary, R._crawl_log_line,
                R._mixed_line, R._solr_document, C.is_heritrix]
    misses = [b.cache_info().misses for b in builders]
    df = jsonl.read_crawl_log(spark, sample)
    etl.warehouse_rows(df)
    R.summarise_hosts(df)
    R.crawl_log_lines(df)
    R.mixed_stream_lines(df)
    R.solr_documents(df)
    assert [b.cache_info().misses for b in builders] == misses


def test_cli_output_is_unchanged(spark, sample):
    """Every report format and streamer print exactly what the per-call
    construction printed."""
    got = {
        name: hashlib.sha256(_run(argv).encode()).hexdigest()
        for name, argv in _commands(sample).items()
    }
    assert got == GOLDEN


def test_summary_output_is_unchanged(spark, sample):
    """report -S prints the same host lines; -M 3 prints three of them."""
    full = _run(["report", "--input", sample, "-S"]).splitlines()
    assert len(full) == len(SUMMARY)
    assert set(full) == SUMMARY
    head = _run(["report", "--input", sample, "-S", "-M", "3"]).splitlines()
    assert len(head) == 3 and set(head) <= SUMMARY


def _host_frame(spark, rows, parent: bool, seq: bool):
    cols = ["url", "via"] + (["parentUrl"] if parent else []) + (["seq"] if seq else [])
    schema = ", ".join(
        f"{c} {'long' if c == 'seq' else 'string'}" for c in cols
    )
    return spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows], schema
    ).coalesce(1)


#: url, via, parentUrl, seq, read as one partition so first() takes the
#: earliest cross-host referrer in row order
_HOST_ROWS = [
    dict(url="https://a.org/1", via="https://b.org/x", parentUrl="https://a.org/p", seq=5),
    dict(url="https://a.org/2", via="https://a.org/", parentUrl="https://e.org/", seq=9),
    dict(url="https://a.org/3", via=None, parentUrl=None, seq=1),
    dict(url="https://a.org/4", via="https://f.org/", parentUrl=None, seq=2),
    dict(url="http://c.org/", via=None, parentUrl=None, seq=3),
    dict(url="dns:a.org", via="https://z.org/", parentUrl=None, seq=0),
    dict(url="screenshot:https://a.org/", via="https://z.org/", parentUrl=None, seq=0),
    dict(url="https://d.org:8080/p", via="https://d.org/", parentUrl=None, seq=4),
]


@pytest.mark.parametrize(
    "parent,seq,want_a",
    [
        # no parentUrl: via only; arrival order → row 1's b.org
        (False, False, "https://b.org/x"),
        # parentUrl overrides via: row 1 becomes same-host, row 2 cross
        (True, False, "https://e.org/"),
        # min seq among cross-host rows: f.org (2) beats b.org (5)
        (False, True, "https://f.org/"),
        # with parentUrl, cross rows are e.org (9) and f.org (2)
        (True, True, "https://f.org/"),
    ],
)
def test_summarise_hosts_structural_variants(spark, parent, seq, want_a):
    df = _host_frame(spark, _HOST_ROWS, parent, seq)
    got = {
        r["hostname"]: (r["tot"], r["first_cross_via"])
        for r in R.summarise_hosts(df).collect()
    }
    assert got == {"a.org": (4, want_a), "c.org": (1, None), "d.org": (1, None)}


def test_outputs_survive_a_session_restart(tmp_path):
    """Stop the session and start a new one in the same process: the cached
    Columns bind to the new session and report -S, streamer and etl print
    what they printed in the first. Runs in its own process so the suite's
    session is untouched."""
    path = write_crawl_log_sample(str(tmp_path))
    script = textwrap.dedent(
        """
        import contextlib, io, json, sys
        from crawl_streams_spark.cli import main
        from crawl_streams_spark.session import get_spark

        def run(argv):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                assert main(argv) == 0
            return buf.getvalue()

        path, out, lo, hi = sys.argv[1:]
        outputs = []
        for i in range(2):
            spark = get_spark("restart", master="local[2]", shuffle_partitions=2)
            wh = f"{out}/wh{i}"
            outputs.append({
                "report": run(["report", "--input", path, "-S"]),
                "streamer": run(["streamer", "--input", path, "--from", lo,
                                 "--to", hi]),
                "etl": run(["etl", "--input", path, "--output", wh]).replace(wh, "WH"),
                "rows": sorted(map(str, spark.read.parquet(wh).collect())),
            })
            spark.stop()
        print(json.dumps(outputs))
        """
    )
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, "-c", script, path, str(tmp_path), *WINDOW],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    first, second = json.loads(proc.stdout.splitlines()[-1])
    assert first["etl"] == "wrote 240 rows to WH\n"
    assert len(first["rows"]) == 240
    assert second == first


def test_corrupt_record_count_form(spark, sample):
    """The error-metric form read_crawl_log documents: count the corrupt
    record next to another column (a query referencing only the corrupt
    record column is refused by Spark)."""
    df = jsonl.read_crawl_log(spark, sample)
    bad = df.agg(F.count("corrupt_record"), F.count("timestamp")).first()[0]
    assert bad == 6
