"""Python workers import the engine through the session, not through the
driver's working directory.

A driver that puts the repo on its own ``sys.path`` does not pass that
path to the Python workers Spark starts: they see only the PYTHONPATH of
the session's environment. The check runs in its own process with its
working directory outside the repo, PYTHONPATH unset and worker reuse
off, so nothing a previous stage left behind can hide a missing path.

In one session it runs:

- ``decode_flac_features`` on a bare ``SparkSession.builder`` session,
  before any engine loader has seen it, over payloads encoded on the
  driver (direct operator use on a foreign session);
- the registry queries whose Python stages import the package on the
  worker, plus ``media_jpeg_features``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = (
    "knn_ivf_pq_fixed",
    "knn_opq_fixed",
    "media_adpcm_features",
    "media_flac_features",
    "media_jpeg_features",
    "media_ms_adpcm_features",
    "media_qoi_features",
    "pq_codes_fixed_book",
    "price_quantile_sketch",
    "semantic_dedup_pairs",
)

SCRIPT = textwrap.dedent(
    """
    import json, sys

    root, sf_dir, *names = sys.argv[1:]
    sys.path.insert(0, root)

    import numpy as np
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.python.worker.reuse", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )

    from crawl_streams_spark.operators import multimodal as MM
    from crawl_streams_spark.operators.flac import encode_flac

    payloads = [encode_flac(np.arange(64), order=2), b"not flac", None]
    media = spark.createDataFrame(
        [(i, p, "audio", "audio/flac") for i, p in enumerate(payloads)],
        MM.MEDIA_SCHEMA,
    )
    try:
        direct = [r.asDict() for r in MM.decode_flac_features(media).collect()]
    except Exception as e:
        direct = str(e).strip().splitlines()[-1]

    from crawl_streams_spark.plans import REGISTRY

    failed = {}
    for name in names:
        try:
            REGISTRY[name].build(spark, sf_dir).collect()
        except Exception as e:
            lines = [l for l in str(e).splitlines() if "Error" in l]
            failed[name] = (lines or [type(e).__name__])[-1].strip()
    spark.stop()
    print(json.dumps({"direct": direct, "failed": failed}))
    """
)


def test_workers_import_engine_without_repo_cwd_or_pythonpath(sf_dir, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, ROOT, sf_dir, *QUERIES],
        capture_output=True, text=True, env=env, cwd=str(tmp_path), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.splitlines()[-1])

    assert out["failed"] == {}
    direct = out["direct"]
    assert isinstance(direct, list), direct
    assert [r["media_id"] for r in direct] == [0, 1, 2]
    assert direct[0]["error"] is None and direct[0]["n_samples"] == 64
    assert direct[1]["error"] and direct[1]["rms"] is None
    assert direct[2]["error"] == "null payload"
