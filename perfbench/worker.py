"""The timed process: starts the engine's session, warms the workload up,
runs it closed- or open-loop and writes a JSON record of every operation.

Started by ``perfbench/run.py`` (never imported by it), with the inputs
already generated. It drives the engine only through its public functions
and reads Spark's status store and streaming progress from outside.
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import io
import json
import os
import random
import shutil
import statistics
import threading
import time
import traceback

from perfbench.inputs import TS_PLACEHOLDER
from perfbench.measure import (
    Tracer,
    backlog_max,
    commit_time,
    cpu_ticks,
    due_times,
    file_latencies,
    files_by_batch,
    lateness,
    result_digest,
    steal_adjusted,
)

CORES = min(4, os.cpu_count() or 1)


def _error(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0][:300] if str(exc) else ''}"


class Timer:
    """Wall time of a block and the same time with the hypervisor's stolen
    share taken out (``measure.steal_adjusted``)."""

    def __enter__(self):
        self.ticks, self.t = cpu_ticks(), time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t
        self.adjusted = steal_adjusted(self.wall, self.ticks, cpu_ticks())


def unfinished(ops: list[dict], seconds: float, t0: float) -> bool:
    """Whether a closed loop that started at ``t0`` runs another whole pass.

    It stops when the steal-adjusted time of its operations (wall time for
    a failed one) reaches ``seconds``, so a slow phase of the host does not
    change how many operations a run measures; four times ``seconds`` of
    wall time stops it in any case."""
    done = sum(o["latency"] or o["wall"] for o in ops)
    return done < seconds and time.perf_counter() - t0 < 4 * seconds


def _cli(argv: list[str]) -> str:
    """One in-process ``cli.main`` call; returns what it printed."""
    from crawl_streams_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    if rc != 0:
        raise RuntimeError(f"cli {argv[0]} exited {rc}")
    return buf.getvalue()


class StatusStore:
    """Job, stage and task counters read from Spark's status store
    after the listener bus has drained; jobs are attributed to an operation
    by job-id range, so broadcast and subquery jobs (run under their own
    job groups) count too."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seen = self._max_job()

    def _jobs_after(self, seen: int) -> list:
        """Jobs with an id above ``seen`` (the store lists newest first)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        it = self.store.jobsList(self.sc._jvm.java.util.ArrayList()).iterator()
        out = []
        while it.hasNext():
            j = it.next()
            if j.jobId() <= seen:
                break
            out.append(j)
        return out

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._jobs_after(-1)), default=-1)

    def take(self) -> dict:
        """Counters of every job started since the previous call."""
        jobs = self._jobs_after(self.seen)
        self.seen = max([self.seen] + [j.jobId() for j in jobs])
        c = dict(jobs=len(jobs), stages=0, tasks=0, run_s=0.0, cpu_s=0.0,
                 shuffle_read=0, shuffle_write=0, spill=0, skew=1.0)
        quant = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        for j in jobs:
            ids = j.stageIds().iterator()
            while ids.hasNext():
                sid = ids.next()
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a stage never attempted
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["run_s"] += st.executorRunTime() / 1e3
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_read"] += st.shuffleReadBytes()
                c["shuffle_write"] += st.shuffleWriteBytes()
                c["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if st.numTasks() > 1:
                    summary = self.store.taskSummary(sid, st.attemptId(), quant)
                    if summary.isDefined():
                        run = summary.get().executorRunTime()
                        if run.apply(0) > 0:
                            c["skew"] = max(c["skew"], run.apply(1) / run.apply(0))
        return c


def _add(total: dict, c: dict) -> None:
    for k, v in c.items():
        total[k] = max(total.get(k, v), v) if k == "skew" else total.get(k, 0) + v


def operator_metrics(c: dict) -> dict:
    return {
        "operators.jobs": c["jobs"],
        "operators.stages": c["stages"],
        "operators.tasks": c["tasks"],
        "operators.shuffle_read_bytes": c["shuffle_read"],
        "operators.shuffle_write_bytes": c["shuffle_write"],
        "operators.spill_bytes": c["spill"],
        "operators.task_skew_max": c["skew"],
        "operators.executor_run_s": c["run_s"],
        "operators.executor_cpu_s": c["cpu_s"],
        "operators.noncpu_run_s": c["run_s"] - c["cpu_s"],
    }


class Workload:
    """One workload: ``warmup`` is the first cold pass, ``measure`` runs for
    at least ``seconds`` and returns the operation records, ``traced``
    returns the per-layer metrics."""

    def __init__(self, spark, case: dict, args, tracer: Tracer):
        self.spark, self.case, self.args, self.tracer = spark, case, args, tracer
        self.rng = random.Random(args.seed)
        #: operation records of a traced run (a measured run returns its own)
        self.ops: list[dict] = []

    def final_checks(self) -> list[dict]:
        return []


class RegistryBatch(Workload):
    """Closed loop, one client: each operation is ``build()`` plus
    ``collect()`` of one bench registry query, the plan rebuilt every time;
    each pass runs every query once in a seeded order."""

    def __init__(self, *a):
        super().__init__(*a)
        from crawl_streams_spark.plans import REGISTRY

        self.registry = REGISTRY
        self.data = os.path.join(self.case["dir"], "data")
        self.names = sorted(self.case["expected"])

    def _order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def warmup(self) -> None:
        """The cold pass, then one warm pass, timed and checked: it is the
        untraced baseline of a traced run. Pass time keeps falling for some
        twenty passes as the JIT compiles (10.1 s for the first warm pass,
        about 7 s from the fifteenth on a quiet host), and the first warm
        pass is where a slow phase of the host moves it most."""
        for q in self._order():
            self.registry[q].build(self.spark, self.data).collect()
        self.base = [self._op(q) for q in self._order()]

    def _op(self, q: str) -> dict:
        try:
            with Timer() as t:
                df = self.registry[q].build(self.spark, self.data)
                rows = df.collect()
        except Exception as exc:  # noqa: BLE001 - recorded as a failed operation
            return {"kind": q, "latency": None, "wall": t.wall, "ok": False,
                    "error": _error(exc), "work": 0}
        return self._checked(q, t, df, rows)

    def _checked(self, q: str, t: Timer, df, rows) -> dict:
        got = result_digest(df.columns, rows)
        ok = got == self.case["expected"][q]
        return {"kind": q, "latency": t.adjusted, "wall": t.wall, "ok": ok, "work": 1,
                "error": None if ok else f"result differs from oracle: {got} != "
                f"{self.case['expected'][q]}"}

    def measure(self, seconds: float) -> list[dict]:
        ops: list[dict] = []
        t0 = time.perf_counter()
        while unfinished(ops, seconds, t0):
            ops.extend(self._op(q) for q in self._order())
        return ops

    def traced(self) -> dict:
        base = self.base
        self.ops.extend(base)
        self.tracer.enabled = True
        store = StatusStore(self.spark)
        m, total, build_jobs = {}, {}, 0
        t_traced = 0.0
        for q in self._order():
            with self.tracer.span("plans.query", query=q), Timer() as t:
                with self.tracer.span("plans.build", query=q) as s_build:
                    df = self.registry[q].build(self.spark, self.data)
                c_build = store.take()
                with self.tracer.span("plans.plan", query=q):
                    df._jdf.queryExecution().executedPlan()
                with self.tracer.span("plans.execute", query=q) as s_exec:
                    rows = df.collect()
                c = store.take()
            t_traced += t.adjusted
            self.ops.append(self._checked(q, t, df, rows))
            build_jobs += c_build["jobs"]
            _add(total, c_build)
            _add(total, c)
            m[f"plans.build_s.{q}"] = s_build["end"] - s_build["start"]
            m[f"plans.execute_s.{q}"] = s_exec["end"] - s_exec["start"]
            m[f"operators.jobs.{q}"] = c_build["jobs"] + c["jobs"]
        self.tracer.enabled = False
        build = self.tracer.total("plans.build")
        plan = self.tracer.total("plans.plan")
        execute = self.tracer.total("plans.execute")
        t_base = sum(o["latency"] or 0.0 for o in base)
        m.update(operator_metrics(total))
        m.update({
            "plans.build_s": build,
            "plans.build_jobs": build_jobs,
            "plans.plan_s": plan,
            "plans.execute_s": execute,
            "plans.build_share": build / (build + plan + execute),
            "trace.overhead": t_traced / t_base - 1.0,
        })
        m["operators.speedup_vs_1core"] = self._one_core_pass() / t_base
        return m

    def _one_core_pass(self) -> float:
        from crawl_streams_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark("perfbench-1core", master="local[1]",
                               shuffle_partitions=CORES)
        # untimed, like the local[k] warm-up: new Python workers, first
        # broadcasts and compiled code would otherwise count against local[1]
        self.ops.extend(self._op(q) for q in self._order())
        one_core = [self._op(q) for q in self._order()]
        self.ops.extend(one_core)
        return sum(o["latency"] or 0.0 for o in one_core)


class CrawlBatch(Workload):
    """Closed loop, one client: in-process ``cli.main`` calls over a seeded
    crawl-log corpus, cycling ``report -S``, ``streamer --from/--to`` and
    ``etl`` into a fresh directory."""

    def __init__(self, *a):
        super().__init__(*a)
        self.exp = self.case["expected"]
        self.input = os.path.join(self.case["dir"], "crawl.jsonl")
        self.out_root = os.path.join(self.args.work, "warehouse")
        self.n_etl = 0

    def _argv(self, kind: str) -> list[str]:
        if kind == "report":
            return ["report", "--input", self.input, "-S"]
        if kind == "streamer":
            lo, hi = self.exp["window"]
            return ["streamer", "--input", self.input, "--from", lo, "--to", hi,
                    "-l", str(self.exp["window_rows"] + 1000)]
        self.n_etl += 1
        return ["etl", "--input", self.input,
                "--output", os.path.join(self.out_root, f"etl-{self.n_etl}")]

    def _check(self, kind: str, out: str) -> str | None:
        lines = out.splitlines()
        if kind == "report":
            got = {}
            for line in lines:
                row = ast.literal_eval(line)
                got[row["hostname"]] = row["tot"]
            if got != self.exp["host_totals"]:
                diff = sorted(set(got.items()) ^ set(self.exp["host_totals"].items()))
                return f"host totals differ ({len(diff)} entries), e.g. {diff[:3]}"
        elif kind == "streamer":
            if len(lines) != self.exp["window_rows"]:
                return f"streamer printed {len(lines)} rows, expected {self.exp['window_rows']}"
        else:
            want = f"wrote {self.exp['valid']} rows"
            if not lines or not lines[-1].startswith(want):
                return f"etl said {lines[-1:]!r}, expected '{want} ...'"
        return None

    def _op(self, kind: str) -> dict:
        argv = self._argv(kind)
        lat = None
        try:
            with self.tracer.span(f"cli.{kind}"), Timer() as t:
                out = _cli(argv)
            lat = t.adjusted
            err = self._check(kind, out)
        except Exception as exc:  # noqa: BLE001 - recorded as a failed operation
            err = _error(exc)
        if kind == "etl":
            shutil.rmtree(argv[-1], ignore_errors=True)
        return {"kind": kind, "latency": lat, "wall": t.wall, "ok": err is None, "error": err,
                "work": self.exp["records"] if err is None else 0}

    #: The first cycle is cold. Per-operation latency keeps falling for
    #: about five more (report 0.71 -> 0.40 s, etl 2.0 -> 1.4 s); warming up
    #: through them measured no steadier and cost 3-4 s a cycle.
    WARMUP_CYCLES = 2

    def warmup(self) -> None:
        for _ in range(self.WARMUP_CYCLES):
            for kind in ("report", "streamer", "etl"):
                op = self._op(kind)
                if not op["ok"]:
                    raise RuntimeError(f"warm-up {kind} failed: {op['error']}")

    def measure(self, seconds: float) -> list[dict]:
        ops: list[dict] = []
        t0 = time.perf_counter()
        while unfinished(ops, seconds, t0):
            ops.extend(self._op(k) for k in ("report", "streamer", "etl"))
        return ops

    def final_checks(self) -> list[dict]:
        """The reader's malformed-line count against the generator's."""
        import pyspark.sql.functions as F

        from crawl_streams_spark.sources import jsonl

        # Spark refuses a raw-JSON query whose only referenced column is the
        # corrupt-record column, so the count reads a second column too
        n = jsonl.read_crawl_log(self.spark, self.input).agg(
            F.count("corrupt_record"), F.count("timestamp")).first()[0]
        ok = n == self.exp["malformed"]
        return [{"check": "malformed_lines", "ok": ok,
                 "error": None if ok else f"{n} malformed lines, expected {self.exp['malformed']}"}
                ] + getattr(self, "stream_checks", [])

    def traced(self) -> dict:
        import pyspark.sql.functions as F

        from crawl_streams_spark.operators import etl
        from crawl_streams_spark.sources import jsonl

        kinds = ("report", "streamer", "etl")
        base = [self._op(k) for k in kinds]
        self.tracer.enabled = True
        store = StatusStore(self.spark)
        traced = [self._op(k) for k in kinds]
        c = store.take()
        self.tracer.enabled = False
        base += [self._op(k) for k in kinds]
        self.ops.extend(base + traced)
        m = operator_metrics(c)
        for k in kinds:
            m[f"cli.{k}_s"] = self.tracer.total(f"cli.{k}")
        m["trace.overhead"] = (2 * sum(o["latency"] for o in traced)
                               / sum(o["latency"] for o in base) - 1.0)

        def drain(df):
            df.write.format("noop").mode("overwrite").save()

        scan = jsonl.read_crawl_log(self.spark, self.input)
        drain(scan)  # first run of each plan compiles; the second is timed
        drain(etl.warehouse_rows(scan))
        self.tracer.enabled = True
        with self.tracer.span("sources.scan"):
            drain(jsonl.read_crawl_log(self.spark, self.input))
        with self.tracer.span("functions.derive"):
            drain(etl.warehouse_rows(jsonl.read_crawl_log(self.spark, self.input)))
        counts = jsonl.read_crawl_log(self.spark, self.input).agg(
            F.count("*").alias("n"), F.count("corrupt_record").alias("bad"),
            F.count("timestamp")).first()
        scan = self.tracer.total("sources.scan")
        m.update({
            "sources.scan_s": scan,
            "sources.records": counts["n"],
            "sources.corrupt_records": counts["bad"],
            "functions.derive_s": self.tracer.total("functions.derive") - scan,
        })
        # the streaming layer, fed the same kind of records: the analyse_stream
        # open loop over this run's stream files, in this session
        stream = AnalyseStream(self.spark, self.case["stream"], self.args, self.tracer)
        try:
            stream.warmup()
            layers = stream.traced()
        finally:
            if stream.query is not None and stream.query.isActive:
                stream.query.stop()
        self.ops.extend(stream.ops)
        self.stream_checks = stream.final_checks()
        m.update({k: v for k, v in layers.items() if k.startswith(("streaming.", "generator."))})
        return m


class AnalyseStream(Workload):
    """Open loop: a generator thread writes one seeded file of events per
    interval (temp name, atomic rename, events stamped with the file's due
    time) into the source directory of ``run_analysis`` (complete mode,
    atomic snapshot sink, 1 s processing-time trigger)."""

    #: a file folded later than this after its due time counts as failed
    LATENCY_LIMIT_S = 5.0
    TRIGGER = "1 seconds"

    def __init__(self, *a):
        super().__init__(*a)
        d = self.args.work
        self.src = os.path.join(d, "source")
        self.ckpt = os.path.join(d, "checkpoint")
        self.snapshot = os.path.join(d, "snapshot.json")
        os.makedirs(self.src, exist_ok=True)
        with open(os.path.join(self.case["dir"], "files.json")) as f:
            plan = json.load(f)
        self.payloads, self.counts = plan["payloads"], plan["counts"]
        self.interval = self.case["expected"]["interval_s"]
        self.due: dict[str, float] = {}
        self.written: dict[str, float] = {}
        self.query = None

    def _write(self, i: int, due: float) -> None:
        name = f"part-{i:05d}.json"
        stamp = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(due)) + \
            f".{int(due * 1000) % 1000:03d}Z"
        tmp = os.path.join(self.src, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write(self.payloads[i].replace(TS_PLACEHOLDER, stamp))
        os.replace(tmp, os.path.join(self.src, name))
        self.due[name], self.written[name] = due, time.time()

    @staticmethod
    def _commits(progress) -> dict[int, float]:
        """Commit time of every micro-batch that read input."""
        return {p["batchId"]: commit_time(p) for p in progress if p["numInputRows"] > 0}

    def _wait_folded(self, names, deadline: float) -> None:
        while time.time() < deadline:
            batch_of = files_by_batch(self.ckpt)
            committed = self._commits(self.query.recentProgress)
            if all(batch_of.get(n) in committed for n in names):
                return
            time.sleep(0.05)

    def warmup(self) -> None:
        from crawl_streams_spark.sources.jsonl import stream_crawl_log
        from crawl_streams_spark.streaming.analysis_job import run_analysis

        # file 0 is in place before the query starts, so the first trigger
        # always finds it (written after start, it could miss that trigger
        # and wait for the next one)
        self._write(0, time.time())
        self.query = run_analysis(stream_crawl_log(self.spark, self.src), self.snapshot,
                                  self.ckpt, update_interval=self.TRIGGER)
        self._wait_folded(["part-00000.json"], time.time() + 120)
        if not self._commits(self.query.recentProgress):
            raise RuntimeError("warm-up micro-batch never committed")

    def measure(self, seconds: float) -> list[dict]:
        n = len(self.payloads) - 1
        start = time.time() + 0.2
        schedule = due_times(start, self.interval, n)

        def generate():
            for i, due in enumerate(schedule, start=1):
                time.sleep(max(0.0, due - time.time()))
                self._write(i, due)

        gen = threading.Thread(target=generate, name="perfbench-generator")
        gen.start()
        gen.join(timeout=seconds + 60)
        names = [f"part-{i:05d}.json" for i in range(1, n + 1)]
        self._wait_folded(names, time.time() + self.LATENCY_LIMIT_S + 5)
        self.progress = list(self.query.recentProgress)
        self.query.stop()
        batch_of = files_by_batch(self.ckpt)
        commits = self._commits(self.progress)
        lat = file_latencies({k: self.due[k] for k in names if k in self.due},
                             batch_of, commits)
        ops = []
        for i, name in enumerate(names, start=1):
            t = lat.get(name)
            err = None
            if name not in self.due:
                err = "generator never wrote the file"
            elif t is None:
                err = "no committed micro-batch folded the file"
            elif t > self.LATENCY_LIMIT_S:
                err = f"folded {t:.2f} s after its due time (limit {self.LATENCY_LIMIT_S} s)"
            ops.append({"kind": "file", "latency": t, "ok": err is None, "error": err,
                        "work": sum(self.counts[i].values()) if err is None else 0})
        self.late = lateness([self.due[k] for k in names if k in self.written],
                             [self.written[k] for k in names if k in self.written])
        self.wall = max(commits.values()) - start if commits else float("nan")
        self.backlog = backlog_max([self.written[n] for n in names if n in self.written],
                                   [self.due[n] + lat[n] for n in names
                                    if lat.get(n) is not None])
        return ops

    def final_checks(self) -> list[dict]:
        want: dict[str, int] = {}
        for c in self.counts[: len(self.written)]:
            for h, n in c.items():
                want[h] = want.get(h, 0) + n
        with open(self.snapshot) as f:
            doc = json.load(f)
        got: dict[str, int] = {}
        for row in doc["hosts"]:
            h = str(row.get("host"))
            got[h] = got.get(h, 0) + row["total"]
        ok = got == want
        return [{"check": "snapshot_host_totals", "ok": ok,
                 "error": None if ok else f"snapshot totals differ on "
                 f"{len(set(got.items()) ^ set(want.items()))} hosts"}]

    def traced(self) -> dict:
        store = StatusStore(self.spark)
        self.ops.extend(self.measure(self.args.seconds))
        prog = [p for p in self.progress if p["numInputRows"] > 0]

        def p50(key):
            return statistics.median(p["durationMs"].get(key, 0) for p in prog)

        state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        return {
            **operator_metrics(store.take()),
            "streaming.trigger_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.query_planning_ms_p50": p50("queryPlanning"),
            "streaming.latest_offset_ms_p50": p50("latestOffset"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.state_commit_ms_p50": statistics.median(
                s["commitTimeMs"] for s in state),
            "streaming.state_rows": state[-1]["numRowsTotal"],
            "streaming.state_memory_bytes": state[-1]["memoryUsedBytes"],
            "streaming.backlog_files_max": self.backlog,
            "generator.late_ms_max": 1e3 * max(self.late),
            # progress is read after the query stops: nothing is traced in-run
            "trace.overhead": 0.0,
        }


WORKLOADS = {
    "registry_batch": RegistryBatch,
    "crawl_batch": CrawlBatch,
    "analyse_stream": AnalyseStream,
}


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--t0", type=float, required=True, help="monotonic spawn time")
    p.add_argument("--ticks0", type=int, nargs=2, required=True,
                   help="busy and stolen clock ticks at spawn (measure.cpu_ticks)")
    p.add_argument("--case", required=True, help="input directory")
    p.add_argument("--stream-case", help="stream input directory (traced crawl_batch)")
    p.add_argument("--work", required=True, help="scratch directory of this run")
    p.add_argument("--result", required=True)
    p.add_argument("--spans", help="where a traced run writes its spans")
    args = p.parse_args()
    # workloads switch the tracer on around their traced segment only
    tracer = Tracer(f"{args.workload}-{args.seed}", enabled=False)
    with open(os.path.join(args.case, "expected.json")) as f:
        case = {"dir": args.case, "expected": json.load(f)}
    if args.stream_case:
        with open(os.path.join(args.stream_case, "expected.json")) as f:
            case["stream"] = {"dir": args.stream_case, "expected": json.load(f)}
    out: dict = {"ops": [], "checks": [], "layers": {}}
    from crawl_streams_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    # set-up times are steal-adjusted like every operation (Timer)
    started, ticks = time.monotonic(), cpu_ticks()
    out["start_s"] = steal_adjusted(started - args.t0, args.ticks0, ticks)
    wl = WORKLOADS[args.workload](spark, case, args, tracer)
    try:
        wl.warmup()
        now = time.monotonic()
        out["warmup_s"] = steal_adjusted(now - started, ticks, cpu_ticks())
        out["setup_s"] = steal_adjusted(now - args.t0, args.ticks0, cpu_ticks())
        out["setup_wall_s"] = now - args.t0
        if args.trace:
            out["layers"] = wl.traced()
            out["ops"] = wl.ops
        else:
            out["ops"] = wl.measure(args.seconds)
        out["wall_s"] = getattr(wl, "wall", None)
        out["generator_late_s"] = getattr(wl, "late", None)
        out["checks"] = wl.final_checks()
        if args.trace:
            tracer.dump(args.spans)
    except Exception:
        out["fatal"] = traceback.format_exc()
    finally:
        query = getattr(wl, "query", None)
        if query is not None and query.isActive:
            query.stop()
        wl.spark.stop()
    with open(args.result, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
