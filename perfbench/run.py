"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {registry_batch,crawl_batch,analyse_stream}
        --seed N --seconds S --trace {0,1}

Generates (or reuses) the seed's inputs and expected results, then starts
the timed process (``perfbench/worker.py``) and samples the resident memory
of its whole process tree (Python process, JVM, Python workers; shared pages
counted once) every 250 ms. Every metric is printed by name with its unit;
the last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402
from perfbench.measure import MIN_BEYOND, cpu_ticks, percentile, tree_pss_bytes  # noqa: E402
from perfbench.worker import CORES  # noqa: E402

#: The registry workload's queries: the bench-tagged set of the registry
#: when the benchmark was defined, fixed here so the workload cannot change
#: under a later edit of the tags.
BENCH_QUERIES = (
    "concurrent_sessions", "dedup_exact", "dedup_minhash_signatures",
    "doc_span_excision", "doc_token_stats", "dup_span_doc_stats",
    "event_type_stats", "hll_distinct_users", "host_graph_triangles",
    "knn_bruteforce", "media_flac_features", "pricing_summary",
    "regional_revenue", "top_unshipped_orders", "user_sessions",
)
#: registry tables at the size of the sf0.01 test data (TESTDATA.md)
REGISTRY_SCALE = 1
#: crawl-log corpus size and its malformed lines
CRAWL_RECORDS, CRAWL_MALFORMED = 40_000, 200
#: open loop: one file of EVENTS_PER_FILE events every STREAM_INTERVAL_S
EVENTS_PER_FILE = 100
STREAM_INTERVAL_S = 0.05
#: one memory sample reads smaps_rollup of a 1 GiB JVM (about 25 ms)
MEMORY_PERIOD_S = 0.25
CHILD_TIMEOUT_S = 165
#: The timed JVM gets a fixed 1 GiB heap with a fixed 256 MiB young
#: generation: with the default adaptive sizing, peak resident memory of
#: one workload ranged 0.9-2.2 GB on unchanged code. With both fixed, the
#: young generation is a constant and the old-generation high-water mark
#: (data the engine retains) is what varies.
HEAP = "1g"
JVM_HEAP_OPTIONS = "-Xms1g -Xmn256m"


CACHE = os.path.join(ROOT, ".perfbench_cache")


def _stream_case(seed: int, seconds: float) -> str:
    n_files = 1 + round(seconds / STREAM_INTERVAL_S)
    key = f"stream-{n_files}x{EVENTS_PER_FILE}-{seed}"

    def make(d):
        payloads, counts = inputs.stream_plan(seed, n_files, EVENTS_PER_FILE)
        with open(os.path.join(d, "files.json"), "w") as f:
            json.dump({"payloads": payloads,
                       "counts": [{str(h): n for h, n in c.items()} for c in counts]}, f)
        return {"files": n_files, "events_per_file": EVENTS_PER_FILE,
                "interval_s": STREAM_INTERVAL_S}

    inputs.prepared(CACHE, key, make)
    return os.path.join(CACHE, key)


def _case(workload: str, seed: int, seconds: float) -> str:
    if workload == "registry_batch":
        key = f"registry-s{REGISTRY_SCALE}-{seed}"
        inputs.prepared(CACHE, key, lambda d: inputs.registry_tables(
            d, seed, REGISTRY_SCALE, list(BENCH_QUERIES)))
    elif workload == "crawl_batch":
        key = f"crawl-{CRAWL_RECORDS}-{seed}"
        inputs.prepared(CACHE, key, lambda d: inputs.crawl_corpus(
            d, seed, CRAWL_RECORDS, CRAWL_MALFORMED))
    else:
        return _stream_case(seed, seconds)
    return os.path.join(CACHE, key)


def _reap(pgid: int) -> None:
    """Stop every process left in the timed process's group and wait for
    them to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            time.sleep(0.1)
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return


def _spawn(args, case: str, work: str) -> tuple[dict, int]:
    """Run the timed process once; returns its record and the peak resident
    bytes of its process tree."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_SUBMIT_ARGS=f'--driver-java-options "-Djava.io.tmpdir={work}/tmp '
                            f'{JVM_HEAP_OPTIONS}" pyspark-shell',
        # every JVM (the spark-submit launcher too) would otherwise write a
        # perf-data file under /tmp, outside the checkout
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
        TZ="UTC",
    )
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--case", case, "--work", work,
           "--result", result, "--t0"]
    if args.trace and args.workload == "crawl_batch":
        # its traced run also measures the streaming layer
        cmd[-1:-1] = ["--stream-case", _stream_case(args.seed, args.seconds)]
    if args.trace:
        traces = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(traces, exist_ok=True)
        cmd[-1:-1] = ["--spans", os.path.join(traces, f"{args.workload}-{args.seed}.json")]
    peak = 0
    ticks0 = cpu_ticks()
    t0 = time.monotonic()
    cmd += [repr(t0), "--ticks0", *map(str, ticks0)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        while proc.poll() is None:
            peak = max(peak, tree_pss_bytes(proc.pid))
            if time.monotonic() - t0 > CHILD_TIMEOUT_S:
                raise TimeoutError(f"timed process ran past {CHILD_TIMEOUT_S} s")
            time.sleep(MEMORY_PERIOD_S)
    finally:
        _reap(proc.pid)
        proc.wait()
    if proc.returncode != 0 or not os.path.exists(result):
        raise RuntimeError(f"timed process exited {proc.returncode} without a result")
    with open(result) as f:
        rec = json.load(f)
    if "fatal" in rec:
        raise RuntimeError("timed process failed:\n" + rec["fatal"])
    return rec, peak


def end_to_end(rec: dict, peak: int, workload: str) -> dict:
    ops = rec["ops"]
    lat = [o["latency"] for o in ops if o["latency"] is not None]
    done = sum(o["work"] for o in ops)
    wall = rec["wall_s"] if workload == "analyse_stream" else sum(lat)
    return {
        "setup_s": rec["setup_s"],
        "peak_rss_mb": peak / 2**20,
        "throughput_per_s": done / wall,
        "latency_p50_s": percentile(lat, 0.5),
        "completeness": sum(o["ok"] for o in ops) / len(ops),
        "_latency_p90_s": percentile(lat, 0.9),
        "_samples": len(lat),
        "_wall": [o["wall"] for o in ops if o.get("wall") is not None],
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["registry_batch", "crawl_batch", "analyse_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "crawl_streams_spark")):
        print("perfbench: the crawl_streams_spark package is not beside perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    case = _case(args.workload, args.seed, args.seconds)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        rec, peak = _spawn(args, case, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} master local[{CORES}]"
          f" set-up {rec['setup_s']:.3f} s (session start {rec['start_s']:.3f} s,"
          f" warm-up {rec['warmup_s']:.3f} s; {rec['setup_wall_s']:.3f} s wall-clock)")
    ops = rec["ops"]
    attempted, failed = len(ops), sum(not o["ok"] for o in ops)
    for o in ops:
        if not o["ok"]:
            print(f"  FAILED {o['kind']}: {o['error']}")
    for c in rec["checks"]:
        print(f"  check {c['check']}: {'ok' if c['ok'] else 'FAILED: ' + c['error']}")
    correct = failed == 0 and all(c["ok"] for c in rec["checks"])
    if rec.get("generator_late_s"):
        late = rec["generator_late_s"]
        print(f"  generator lateness: median {statistics.median(late) * 1e3:.2f} ms,"
              f" max {max(late) * 1e3:.2f} ms over {len(late)} files")
    if args.trace:
        layers = dict(rec["layers"], **{"session.start_s": rec["start_s"],
                                        "session.warmup_s": rec["warmup_s"]})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for name in sorted(set(layers) - set(metrics)):
            print(f"  (not in BENCHMARK.json) {name} = {layers[name]}")
    else:
        e2e = end_to_end(rec, peak, args.workload)
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        p90 = e2e["_latency_p90_s"]
        print(f"  latency samples {e2e['_samples']}; latency_p90_s "
              + (f"= {p90:.6f} s" if p90 is not None else
                 f"omitted (needs {MIN_BEYOND} samples beyond p90)"))
        if e2e["_wall"]:
            adjusted = sum(o["latency"] or 0.0 for o in ops)
            print(f"  wall-clock, stolen time included: latency_p50_s"
                  f" {statistics.median(e2e['_wall']):.6f} s; the operations took"
                  f" {sum(e2e['_wall']):.3f} s, {adjusted:.3f} s steal-adjusted")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
