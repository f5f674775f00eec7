"""r14 optimization pins: the Arrow-vectorized _sq_dist and dot_raw twins
must be BIT-IDENTICAL to their HOF forms (the ANN and SemDeDup oracle
gates hash double distances and cosines, so 'close' is not enough),
including the NULL/length-mismatch semantics the HOF gets from zip_with
padding."""

from __future__ import annotations

import math
import struct

import pyspark.sql.functions as F


def _hof_reference(x, y):
    """Pure-python replay of zip_with+aggregate left fold semantics."""
    if x is None or y is None:
        return None
    n = max(len(x), len(y))
    acc = 0.0
    for i in range(n):
        xi = x[i] if i < len(x) else None
        yi = y[i] if i < len(y) else None
        if xi is None or yi is None:
            return None
        d = xi - yi
        acc = acc + d * d
    return acc


def test_sq_dist_batch_bit_identical_to_hof(spark):
    from crawl_streams_spark.operators.similarity import (
        _sq_dist,
        _sq_dist_arrow,
    )

    rows = [
        ([0.1, 0.2, 0.3], [0.3, 0.2, 0.1]),
        ([1e-300, -1e300, 0.5], [2e-300, 1e300, -0.5]),
        ([0.0] * 8, [0.0] * 8),
        ([-0.0, 5.5], [0.0, -5.5]),
        # values chosen so summation ORDER matters: a left fold and a
        # pairwise/numpy-sum differ in the last ulp on shapes like this
        ([1e16, 1.0, -1e16, 1.0], [0.0, 0.0, 0.0, 0.0]),
        ([((i * 7) % 16) * 0.03125 - 0.25 for i in range(64)],
         [((i * 13) % 16) * 0.03125 - 0.25 for i in range(64)]),
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = df.select(
        _sq_dist(F.col("a"), F.col("b")).alias("hof"),
        _sq_dist_arrow(F.col("a"), F.col("b")).alias("vec"),
    ).collect()
    for r in got:
        assert math.isclose(r["hof"], r["vec"], rel_tol=0.0, abs_tol=0.0), (
            r["hof"].hex(),
            r["vec"].hex(),
        )

    # left-fold order pin: the 1e16 row must NOT equal the numerically
    # 'better' pairwise sum if they differ — assert against the replay
    for r, (x, y) in zip(got, rows):
        ref = _hof_reference(x, y)
        assert r["vec"] == ref, (r["vec"], ref)


def test_sq_dist_batch_null_and_ragged_match_hof(spark):
    from crawl_streams_spark.operators.similarity import (
        _sq_dist,
        _sq_dist_arrow,
    )

    rows = [
        (None, [1.0, 2.0]),
        ([1.0, 2.0], None),
        ([1.0, 2.0, 3.0], [1.0, 2.0]),  # zip_with pads -> NULL result
        ([1.5, 2.5], [0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = df.select(
        _sq_dist(F.col("a"), F.col("b")).alias("hof"),
        _sq_dist_arrow(F.col("a"), F.col("b")).alias("vec"),
    ).collect()
    for r in got:
        assert (r["hof"] is None) == (r["vec"] is None)
        if r["hof"] is not None:
            assert r["hof"] == r["vec"]


# dot_raw twin: rows whose results differ between a left fold from a
# +0.0 seed and any other evaluation (no seed, pairwise sum, dropped
# sign of zero), plus the NULL-result rows zip_with padding produces
_DOT_DENSE = [  # all length 4: one batch of these stacks into a matrix
    ([0.1, 0.2, 0.3, 0.4], [0.3, 0.2, 0.1, 0.7]),
    ([1e-300, -1e300, 0.5, 0.0], [2e-300, 1e300, -0.5, 3.0]),
    # only -0.0 products: the +0.0 seed turns the sum into +0.0
    ([-1.0, 0.0, -0.0, 2.0], [0.0, -0.0, 5.0, -0.0]),
    # left fold gives 1.0 here, a pairwise sum gives 0.0
    ([1e16, 1.0, -1e16, 1.0], [1.0, 1.0, 1.0, 1.0]),
    ([((i * 7) % 16) * 0.03125 - 0.25 for i in range(4)],
     [((i * 13) % 16) * 0.03125 - 0.25 for i in range(4)]),
]
_DOT_EDGE = [
    (None, [1.0, 2.0]),
    ([1.0, 2.0], None),
    ([1.0, 2.0, 3.0], [1.0, 2.0]),  # zip_with pads -> NULL result
    ([], []),  # empty fold -> the +0.0 seed
    ([2.5], [-4.0]),
]


def _bits(v):
    return None if v is None else struct.pack("<d", v).hex()


def _dot_hof(spark, rows):
    from crawl_streams_spark.functions.vectors import dot_raw

    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    return [r[0] for r in df.select(dot_raw("a", "b")).collect()]


def _dot_kernel(rows):
    import numpy as np
    import pandas as pd

    from crawl_streams_spark.operators.similarity import _dot_batch

    # the shape a pandas UDF receives: object Series of float64 ndarrays
    def col(i):
        return pd.Series(
            [None if r[i] is None else np.asarray(r[i], dtype=np.float64)
             for r in rows],
            dtype=object,
        )

    # NaN and None both cross the pandas->Arrow boundary as NULL
    return [None if v is None or v != v else float(v)
            for v in _dot_batch(col(0), col(1))]


def _left_fold_dot(x, y):
    acc = 0.0
    for xi, yi in zip(x, y):
        acc = acc + xi * yi
    return acc


def test_dot_batch_vectorized_path_bit_identical_to_dot_raw(spark):
    """One batch of equal-length, non-NULL rows takes the numpy
    column-wise path."""
    rows = _DOT_DENSE
    assert {len(x) for r in rows for x in r} == {4}
    ref = _dot_hof(spark, rows)
    assert [_bits(v) for v in _dot_kernel(rows)] == [_bits(v) for v in ref]
    for v, (x, y) in zip(ref, rows):
        assert _bits(v) == _bits(_left_fold_dot(x, y))
    assert _bits(ref[2]) == _bits(0.0)
    assert ref[3] == 1.0


def test_dot_batch_per_row_path_bit_identical_to_dot_raw(spark):
    """A batch holding a NULL array, a length mismatch or ragged lengths
    takes the per-row loop; its non-NULL results must match too."""
    for rows in (_DOT_DENSE + _DOT_EDGE, _DOT_DENSE + [([], []), ([3.0], [0.5])]):
        ref = _dot_hof(spark, rows)
        assert [_bits(v) for v in _dot_kernel(rows)] == [_bits(v) for v in ref]
    ref = _dot_hof(spark, _DOT_EDGE)
    assert ref[:3] == [None, None, None]
    assert _bits(ref[3]) == _bits(0.0)


def test_dot_arrow_bit_identical_to_dot_raw_in_spark(spark, sf_dir):
    """Through the pandas UDF itself: each batch below is one partition,
    so the dense frame runs the vectorized path and the edge frame the
    per-row path; the fixture embeddings cover the data domain the
    SemDeDup gate feeds it."""
    from crawl_streams_spark.functions.vectors import dot_raw, to_double_array
    from crawl_streams_spark.operators.similarity import _dot_arrow
    from crawl_streams_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        to_double_array("embedding").alias("a")
    )
    probe = emb.limit(1).withColumnRenamed("a", "b")
    frames = [
        spark.createDataFrame(_DOT_DENSE, "a array<double>, b array<double>"),
        spark.createDataFrame(_DOT_DENSE + _DOT_EDGE,
                              "a array<double>, b array<double>"),
        emb.crossJoin(probe),
    ]
    for df in frames:
        got = df.coalesce(1).select(
            dot_raw("a", "b").alias("hof"),
            _dot_arrow(F.col("a"), F.col("b")).alias("vec"),
        ).collect()
        assert got
        bad = [(r["hof"], r["vec"]) for r in got
               if _bits(r["hof"]) != _bits(r["vec"])]
        assert not bad, bad[:5]
