"""Self-tests of the benchmark's own helpers (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import decimal
import json
import os
import re
import subprocess
import sys
import time

import pytest

from perfbench import inputs
from perfbench.measure import (
    MIN_BEYOND,
    Tracer,
    backlog_max,
    commit_time,
    cpu_ticks,
    due_times,
    file_latencies,
    files_by_batch,
    lateness,
    percentile,
    result_digest,
    steal_adjusted,
    tree_pss_bytes,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule ----------------------------------------------------------

def test_p90_needs_ten_samples_beyond():
    assert percentile(list(range(99)), 0.9) is None
    values = list(range(100, 0, -1))  # unsorted input
    assert percentile(values, 0.9) == 90  # ranks 91..100 lie beyond it
    assert sum(v > 90 for v in values) == MIN_BEYOND


def test_p99_needs_a_thousand_samples():
    assert percentile(list(range(999)), 0.99) is None
    assert percentile(list(range(1, 1001)), 0.99) == 990


def test_median_is_reported_for_any_sample():
    assert percentile([3.0], 0.5) == 3.0
    assert percentile([1, 2, 3, 10], 0.5) == 2.5
    assert percentile([], 0.5) is None


# -- stolen time --------------------------------------------------------------

def test_cpu_ticks_reads_busy_and_steal(tmp_path):
    stat = tmp_path / "stat"
    #          user nice system idle iowait irq softirq steal guest guest_nice
    stat.write_text("cpu  100 5 20 900 7 3 2 40 30 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n")
    assert cpu_ticks(str(stat)) == (100 + 5 + 20 + 3 + 2, 40)  # guest is inside user
    assert cpu_ticks(str(tmp_path / "missing")) == (0, 0)
    busy, stolen = cpu_ticks()
    assert busy > 0 and stolen >= 0


def test_steal_adjusted_takes_out_the_stolen_share():
    # 300 busy ticks and 100 stolen: a quarter of the wanted CPU time was stolen
    assert steal_adjusted(2.0, (1000, 50), (1300, 150)) == pytest.approx(1.5)
    assert steal_adjusted(2.0, (1000, 50), (1300, 50)) == 2.0  # nothing stolen
    assert steal_adjusted(2.0, (0, 0), (0, 0)) == 2.0  # no /proc/stat


# -- open loop ----------------------------------------------------------------

def test_due_times_ignore_engine_progress():
    assert due_times(100.0, 0.25, 4) == [100.0, 100.25, 100.5, 100.75]


def test_commit_time_is_trigger_start_plus_trigger_execution():
    p = {"timestamp": "2026-01-02T03:04:05.250Z", "durationMs": {"triggerExecution": 750}}
    assert commit_time(p) == pytest.approx(1767323046.0)


def test_latency_counts_from_due_time_not_write_time():
    due = {"a": 10.0, "b": 10.1, "c": 10.2}
    written = [10.0, 10.6, 10.2]  # the generator stalled on b
    batch_of = {"a": 0, "b": 1}  # c was never folded
    commits = {0: 10.5, 1: 11.3}
    lat = file_latencies(due, batch_of, commits)
    assert lat["a"] == pytest.approx(0.5)
    assert lat["b"] == pytest.approx(1.2)  # includes the 0.5 s stall
    assert lat["c"] is None
    assert lateness(list(due.values()), written) == pytest.approx([0.0, 0.5, 0.0])


def test_backlog_max():
    # three files written at 0, 1, 2; the first two commit at 1.5, the third at 2.5
    assert backlog_max([0.0, 1.0, 2.0], [1.5, 1.5, 2.5]) == 2
    assert backlog_max([], []) == 0
    # a commit at the same instant as the next write is counted first
    assert backlog_max([0.0, 1.0], [1.0, 2.0]) == 1


# -- file-source log ----------------------------------------------------------

def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n" + "\n".join(json.dumps(e) for e in entries))


def test_files_by_batch_reads_deltas_and_compactions(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, b):
        return {"path": f"file:///in/{name}", "timestamp": 1, "batchId": b}

    # batches 0..1 compacted into 1.compact (compact interval 2), then delta 2
    _log(log / "0", [entry("f0.json", 0)])
    _log(log / "1.compact", [entry("f0.json", 0), entry("f1.json", 1), entry("f2.json", 1)])
    _log(log / "2", [entry("f3.json", 2)])
    (log / ".2.crc").write_text("ignored")
    (log / "3.tmp").write_text("ignored")
    assert files_by_batch(str(tmp_path)) == {
        "f0.json": 0, "f1.json": 1, "f2.json": 1, "f3.json": 2}
    assert files_by_batch(str(tmp_path / "missing")) == {}


# -- result digest ------------------------------------------------------------

def test_digest_ignores_row_and_column_order():
    a = result_digest(["k", "v"], [(1, 2.0), (2, -0.0)])
    b = result_digest(["v", "k"], [(0.0, 2), (2.0, 1)])
    assert a == b and a["rows"] == 2


def test_digest_rounds_floats_and_decimals_alike():
    assert (result_digest(["x"], [(decimal.Decimal("1.5000000001"),)])
            == result_digest(["x"], [(1.5,)]))
    assert result_digest(["x"], [(1.5,)]) != result_digest(["x"], [(1.51,)])


# -- inputs -------------------------------------------------------------------

def test_crawl_corpus_expectations(tmp_path):
    exp = inputs.crawl_corpus(str(tmp_path), seed=7, n_records=4000, n_malformed=9)
    lines = (tmp_path / "crawl.jsonl").read_text().splitlines()
    good = []
    for line in lines:
        try:
            good.append(json.loads(line))
        except json.JSONDecodeError:
            pass
    assert len(lines) == exp["records"] == 4009
    assert len(good) == exp["valid"] == 4000
    http = [r for r in good if r["url"].startswith("http")]
    assert sum(exp["host_totals"].values()) == len(http)
    lo, hi = exp["window"]
    assert exp["window_rows"] == sum(lo <= r["timestamp"] < hi for r in good) > 0
    assert any(r["status_code"] < 0 for r in good)
    for scheme, _ in inputs._SCHEMES:  # every branch, even the rarest
        assert any(r["url"].startswith(scheme + ":") for r in good), scheme
    assert any(r.get("thread") is None for r in good)  # WebRender rows
    again = inputs.crawl_corpus(str(tmp_path / "again"), seed=7, n_records=4000, n_malformed=9)
    assert again == exp


def test_engine_host_rule():
    assert inputs.engine_host("dns:a.example.org") == "a.example.org"
    assert inputs.engine_host("https://a.example.org/x?y=1") == "a.example.org"
    assert inputs.engine_host("android-app://com.a.app/https/a.example.org/") == "com.a.app"
    assert inputs.engine_host("screenshot:https://a.example.org/") is None


# -- memory and tracing -------------------------------------------------------

def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        return next(int(x.split()[1]) * 1024 for x in f if x.startswith("Pss:"))


def test_tree_memory_counts_children_once():
    # a forked child shares its parent's pages: plain RSS would count them twice
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        time.sleep(0.5)
        tree = tree_pss_bytes(os.getpid())
        assert tree >= _pss(os.getpid()) + _pss(child.pid) * 0.5
        assert tree_pss_bytes(child.pid) == pytest.approx(_pss(child.pid), rel=0.2)
    finally:
        child.kill()
        child.wait(timeout=10)


def test_tracer_nests_and_can_be_off():
    t = Tracer("r", enabled=True)
    with t.span("outer"):
        with t.span("inner", query="q"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    assert inner["run"] == "r" and inner["query"] == "q"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = Tracer("r", enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


# -- BENCHMARK.json -----------------------------------------------------------

def test_benchmark_json_shape():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(name.match(n) for n in names) and len(names) == len(set(names))
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200
               for w in spec["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert len(spec["per_layer"]) <= 128
