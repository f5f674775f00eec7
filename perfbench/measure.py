"""Pure measurement helpers (no Spark): percentiles, stolen-time
adjustment, open-loop latency arithmetic, the file-source log reader, result
digests, process-tree memory and the span recorder. Covered by
``perfbench/tests``."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import statistics
import time
from contextlib import contextmanager

#: A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, p: float) -> float | None:
    """Nearest-rank ``p`` percentile (0 < p < 1) of ``values``, or ``None``
    when fewer than ``MIN_BEYOND`` samples lie beyond it. The median is
    exempt: it is reported for any non-empty sample."""
    if not values:
        return None
    if p == 0.5:
        return statistics.median(values)
    s = sorted(values)
    rank = math.ceil(p * len(s))
    if len(s) - rank < MIN_BEYOND:
        return None
    return s[rank - 1]


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# -- stolen time -------------------------------------------------------------

def cpu_ticks(path: str = "/proc/stat") -> tuple[int, int]:
    """``(busy, stolen)`` clock ticks of the whole machine so far.

    Busy is user + nice + system + irq + softirq (guest time is already
    inside user and nice). Stolen is time in which a virtual CPU of this
    machine was ready to run but the hypervisor ran something else; it is
    0 on bare metal, and both are 0 where ``path`` cannot be read."""
    try:
        with open(path) as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7] if len(v) > 7 else 0


def steal_adjusted(wall: float, before, after) -> float:
    """``wall`` seconds with the hypervisor's stolen share taken out: wall x
    busy / (busy + stolen), both counted between the ``cpu_ticks`` readings
    ``before`` and ``after``. Without stolen time it is ``wall`` itself."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    if busy <= 0 or stolen <= 0:
        return wall
    return wall * busy / (busy + stolen)


# -- open loop ---------------------------------------------------------------

def due_times(start: float, interval: float, n: int) -> list[float]:
    """Fixed schedule of an open-loop generator: file ``i`` is due at
    ``start + i * interval`` whatever the engine is doing."""
    return [start + i * interval for i in range(n)]


def commit_time(progress: dict) -> float:
    """Epoch seconds at which a micro-batch committed: the progress
    ``timestamp`` (trigger start) plus its ``triggerExecution`` duration."""
    start = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + progress["durationMs"]["triggerExecution"] / 1000.0


def file_latencies(due: dict, batch_of: dict, commits: dict) -> dict:
    """Per file: commit time of the batch that folded it minus the file's
    due time; ``None`` for a file no committed batch folded."""
    out = {}
    for name, t_due in due.items():
        b = batch_of.get(name)
        out[name] = commits[b] - t_due if b in commits else None
    return out


def lateness(due: list[float], written: list[float]) -> list[float]:
    """How late the generator wrote each file against its schedule."""
    return [w - d for d, w in zip(due, written)]


def backlog_max(written: list[float], committed: list[float]) -> int:
    """Most files written but not yet committed at any instant, given each
    file's write time and the commit times of the files folded so far."""
    events = sorted([(t, 1) for t in written] + [(t, -1) for t in committed])
    level = peak = 0
    for _, step in events:  # a commit at the same instant as a write sorts first
        level += step
        peak = max(peak, level)
    return peak


def files_by_batch(checkpoint_dir: str, source: int = 0) -> dict[str, int]:
    """``{file name: batch id}`` from a file-stream source's metadata log in
    a query checkpoint (``sources/<n>/<batch>`` and ``<batch>.compact``
    files: a version line, then one JSON entry per file with its
    ``path`` and ``batchId``)."""
    log = os.path.join(checkpoint_dir, "sources", str(source))
    out: dict[str, int] = {}
    if not os.path.isdir(log):
        return out
    for entry in sorted(os.listdir(log)):
        if entry.startswith(".") or not entry.split(".")[0].isdigit():
            continue
        with open(os.path.join(log, entry)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                rec = json.loads(line)
                out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


# -- correctness -------------------------------------------------------------

def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9) + 0.0)
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9) + 0.0)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_digest(columns, rows) -> dict:
    """Order-insensitive digest of a result: columns sorted by name, values
    canonicalised (floats to 9 digits, -0.0 as 0.0), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()
    return {"columns": [columns[i] for i in order], "rows": len(canon), "sha256": h}


# -- memory ------------------------------------------------------------------

def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None


def tree_pss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, with pages that
    processes share counted once.

    Each process contributes its proportional set size (``Pss`` in
    /proc/<pid>/smaps_rollup), which splits copy-on-write pages between a
    forked child and its parent. A child that still shares its parent's
    address space (a spawn not yet exec'd; the JVM spawns shell commands
    this way) would report the parent's whole memory again, so a child
    whose ``statm`` equals its parent's is skipped."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            stat = _read(f"/proc/{name}/stat")
            if stat is not None:
                ppid = int(stat[stat.rindex(")") + 2:].split()[1])
                children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent_statm = todo.pop()
        statm = _read(f"/proc/{pid}/statm")
        rollup = _read(f"/proc/{pid}/smaps_rollup")
        if statm is None or rollup is None or statm == parent_statm:
            continue
        todo.extend((c, statm) for c in children.get(pid, ()))
        pss = next(line for line in rollup.splitlines() if line.startswith("Pss:"))
        total += int(pss.split()[1]) * 1024
    return total


# -- tracing -----------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id); written out once
    at the end of a run. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
