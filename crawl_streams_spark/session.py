"""SparkSession construction tuned for this engine.

The reference processes one Kafka record at a time on one thread
(report.py:262-268); partition parallelism existed (16-partition topics,
docker-compose.yml:48) but was never used. Here the session is configured so
Catalyst/AQE exploit all cores and so plans stay scale-ready:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic join
  strategy) — the 100 TB posture is "declare the plan, let AQE re-plan".
- Arrow on — every pandas UDF (mmh3 keys, multimodal decode) moves data in
  columnar batches, not pickled rows.
- shuffle partitions sized to the local core count; on a real cluster this is
  overridden (or left to AQE's coalescing with a high initial value).
- the package root on the Python workers' PYTHONPATH — every Arrow stage
  that imports ``crawl_streams_spark`` on a worker finds it wherever the
  driver runs from (``_ensure_worker_path``).
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

# Runtime-settable SQL confs applied to *any* session (including one created
# by an external driver) before reading the test tables.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot read natively;
    # read as LongType and convert (tables.py). Runtime-settable.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # All test data / the DuckDB oracle are timezone-naive UTC.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE family: runtime coalescing + skew handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Python DataSource filter pushdown stays OFF (the 4.1 default):
    # the JVM caches a reused base DataFrame's planned scan and does
    # not re-plan filterless queries, so any filter-dependent
    # partitions() silently loses rows under ordinary DataFrame reuse
    # (measured r11 — see the note in sources/txtable.py and the
    # canary test it names).
    "spark.sql.python.filterPushdown.enabled": "false",
}


#: The directory that holds the ``crawl_streams_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_worker_path(spark: SparkSession) -> None:
    """Append the package root to the PYTHONPATH the session hands its
    Python workers, keeping any entries already there. Idempotent.

    A driver's own ``sys.path`` never reaches a worker: a worker starts
    with the PYTHONPATH of the ``SparkContext.environment`` its Python
    function was created with. Spark keeps one worker daemon per distinct
    environment, so call this before the session's first Python stage.
    This covers local mode and shared filesystems; other clusters still
    ship the package with ``--py-files`` or a venv archive."""
    env = spark.sparkContext.environment
    entries = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_ROOT not in entries:
        env["PYTHONPATH"] = os.pathsep.join(entries + [_PACKAGE_ROOT])


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (driver-provided
    sessions included) and put the package root on its workers' path.
    Safe to call repeatedly."""
    _ensure_worker_path(spark)
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime in this build — proceed; loaders
            # have fallbacks.
            pass
    return spark


def get_spark(
    app_name: str = "crawl-streams-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a tuned SparkSession.

    master defaults to local[$SPARK_GRAFT_CPUS] (env, default all cores);
    shuffle partitions default to the core count — at cluster scale pass a
    value sized so a shuffle partition is ~128-512 MiB and let AQE coalesce.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # getOrCreate() RE-APPLIES builder configs onto an EXISTING
        # session, so an embedded caller that didn't ask for a specific
        # partition count (the CLI inside pytest, say) would silently
        # re-tune the host's session to this process's core count —
        # partition-count-dependent plans (an aggregate above an
        # ArrowEvalPython node, which voids its child's
        # outputPartitioning) then change shape mid-session (the
        # pq_codes_fixed_book snapshot flake, r14). Default-parameter
        # callers get the existing session as-is; explicit
        # shuffle_partitions still applies, as requested. active() falls
        # back from the thread-local active session to the process's
        # default one, so a session another thread created counts too.
        try:
            existing = SparkSession.active()
        except PySparkRuntimeError:
            existing = None
        if existing is not None:
            return apply_runtime_confs(existing)
        shuffle_partitions = os.cpu_count() or 8 if cpus == "*" else int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Keep broadcast threshold at default 10 MiB; dimension tables
        # (region/nation/...) broadcast automatically. Explicit
        # broadcast() hints are reserved for provably BOUNDED relations
        # (SCALING.md hint policy); SF-growing sides are left to AQE's
        # dynamic join selection.
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_confs(spark)
