"""``iterate.fixed_point``: the one convergence loop behind
``cluster_duplicates`` and ``bfs_distances``.

- Differential: the per-row ``moved`` flag must stop the loop exactly at
  the fixed point for every key type, so both kernels are compared with
  pure-Python references (union-find minimum label, multi-source BFS) on
  generated pair lists: self-loops, duplicate and reversed pairs,
  negative and fractional keys, and long chains.
- Release: after a call, the returned frame is the only new RDD holding
  storage, and ``unpin(result)`` frees it. A caller's pinned input is not
  released by the kernel.
"""

from __future__ import annotations

from collections import deque
from decimal import Decimal

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from crawl_streams_spark.operators import dedup as D
from crawl_streams_spark.operators import graph as G
from crawl_streams_spark.operators.iterate import fixed_point, unpin

from .test_r7_fixes import _live_rdd_ids

#: key type → (Spark type, int id → key value). Ids range over negative
#: and positive values; double and decimal keys are fractional.
KEY_TYPES = {
    "bigint": ("bigint", lambda i: i),
    "double": ("double", lambda i: i / 8),
    "decimal": ("decimal(4,2)", lambda i: Decimal(i).scaleb(-2)),
    "string": ("string", lambda i: f"k{i}"),
}

_pair = st.tuples(st.integers(-20, 20), st.integers(-20, 20))


@st.composite
def _pair_lists(draw, max_chain: int):
    """Random pairs, plus reversed and duplicated copies of some of them
    and, optionally, a chain over ids no random pair touches."""
    pairs = draw(st.lists(_pair, min_size=1, max_size=12))
    pairs += [(b, a) for a, b in draw(st.lists(st.sampled_from(pairs), max_size=3))]
    pairs += draw(st.lists(st.sampled_from(pairs), max_size=3))
    chain = draw(st.integers(0, max_chain))
    pairs += [(100 + i, 101 + i) for i in range(chain)]
    return draw(st.permutations(pairs))


def _union_find_min_label(pairs) -> dict:
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _bfs(pairs, sources, directed: bool) -> dict:
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        if not directed:
            adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources}
    todo = deque(sources)
    while todo:
        u = todo.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                todo.append(v)
    return dist


@settings(max_examples=12, deadline=None)
@given(
    st.sampled_from(sorted(KEY_TYPES)),
    _pair_lists(max_chain=40),
)
@example(
    "double",
    [(3, 3), (-5, 2), (2, -5), (-5, 2), (7, 7), (1, 9)]
    + [(100 + i, 101 + i) for i in range(40)],
)
@example(
    "decimal",
    [(-18, 40), (40, -18), (0, 0)] + [(i, i + 1) for i in range(-16, 32)],
)
def test_cluster_duplicates_matches_union_find(spark, key_type, pairs):
    sql_type, key = KEY_TYPES[key_type]
    df = spark.createDataFrame(
        [(key(a), key(b)) for a, b in pairs],
        f"key_a {sql_type}, key_b {sql_type}",
    )
    got = {r["key"]: r["cluster"] for r in D.cluster_duplicates(df).collect()}
    # the reference runs on the mapped keys, so string labels are the
    # lexicographic minimum, as in Spark
    assert got == _union_find_min_label([(key(a), key(b)) for a, b in pairs])


@settings(max_examples=10, deadline=None)
@given(
    st.sampled_from(sorted(KEY_TYPES)),
    _pair_lists(max_chain=12),
    st.lists(st.integers(-20, 20), min_size=1, max_size=3),
    st.booleans(),
)
@example(
    "decimal",
    [(0, 0), (0, -3), (-3, 0), (0, -3), (-3, 4)]
    + [(100 + i, 101 + i) for i in range(12)],
    [-3, 100],
    True,
)
def test_bfs_distances_matches_python_bfs(spark, key_type, pairs, seeds, directed):
    sql_type, key = KEY_TYPES[key_type]
    edges = spark.createDataFrame(
        [(key(a), key(b), 1) for a, b in pairs],
        f"src {sql_type}, dst {sql_type}, weight bigint",
    )
    sources = spark.createDataFrame([(key(s),) for s in seeds], f"node {sql_type}")
    got = {
        r["node"]: r["dist"]
        for r in G.bfs_distances(edges, sources, directed=directed).collect()
    }
    want = {
        key(n): d
        for n, d in _bfs(pairs, list(dict.fromkeys(seeds)), directed).items()
    }
    assert got == want


def test_fixed_point_rejects_nonpositive_cap(spark):
    with pytest.raises(ValueError, match="max_iter"):
        fixed_point(spark.range(1), lambda s: s, "k", max_iter=0)


def _assert_only_result_holds_storage(spark, build):
    before = _live_rdd_ids(spark)
    result = build()
    rows = result.collect()
    assert len(_live_rdd_ids(spark) - before) <= 1
    unpin(result)
    assert _live_rdd_ids(spark) - before == set()
    return rows


def test_cluster_duplicates_releases_rounds_and_edges(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "key_a bigint, key_b bigint"
    )
    rows = _assert_only_result_holds_storage(
        spark, lambda: D.cluster_duplicates(pairs)
    )
    assert {r["cluster"] for r in rows} == {0}


def test_bfs_distances_releases_rounds_and_edges(spark):
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}", 1) for i in range(6)],
        "src string, dst string, weight bigint",
    )
    seeds = spark.createDataFrame([("n0",)], "node string")
    rows = _assert_only_result_holds_storage(
        spark, lambda: G.bfs_distances(edges, seeds)
    )
    assert {r["node"]: r["dist"] for r in rows} == {f"n{i}": i for i in range(7)}


def test_k_core_releases_superseded_rounds(spark):
    # a triangle with a 5-node tail: the tail peels one node per round
    tail = [(f"t{i}", f"t{i + 1}", 1) for i in range(4)] + [("t4", "a", 1)]
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)] + tail,
        "src string, dst string, weight bigint",
    )
    rows = _assert_only_result_holds_storage(spark, lambda: G.k_core(edges, k=2))
    assert {r["node"]: r["core_degree"] for r in rows} == {"a": 2, "b": 2, "c": 2}


def test_kernels_leave_a_pinned_input_readable(spark):
    """The kernels release only their own pins: a pairs or sources frame
    the caller pinned is still readable after the call returns."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "key_a bigint, key_b bigint"
    ).localCheckpoint(eager=True)
    labels = D.cluster_duplicates(pairs)
    assert sorted(map(tuple, labels.collect())) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    ]
    assert sorted(map(tuple, pairs.collect())) == [(1, 2), (2, 3), (7, 8)]

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1)], "src string, dst string, weight bigint"
    )
    seeds = spark.createDataFrame([("b",)], "node string").localCheckpoint(
        eager=True
    )
    dist = G.bfs_distances(edges, seeds)
    assert sorted(map(tuple, dist.collect())) == [("b", 0), ("c", 1)]
    assert seeds.collect()[0]["node"] == "b"
    for df in (labels, dist, pairs, seeds):
        unpin(df)
