"""cluster_duplicates' convergence check on the key types that broke an
earlier design. Round 14 read "did any label move" from a (count,
checksum) scan-aggregate for numeric keys and kept a key-shuffle join for
the rest; the checksum rounded fractional keys and stopped the loop early.
Both checks are gone: every key type now stops on ``iterate.fixed_point``'s
per-row ``moved`` flag. These cases stay as regression tests of that era,
unchanged: the comments in their bodies name the mechanisms they were
written against (the checksum, the join fallback)."""

from __future__ import annotations

from crawl_streams_spark.operators import dedup as D


def test_numeric_long_chain_exact_fixed_point(spark):
    # a 64-node path needs several propagation+jump rounds; every node
    # must land on the global min label, proving the checksum check
    # never declares convergence early (an early stop would leave
    # mid-chain nodes on a local min)
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["key_a", "key_b"]
    )
    got = {r["key"]: r["cluster"] for r in D.cluster_duplicates(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_string_keys_use_join_fallback(spark):
    # string labels have no checksum; the join fallback must still
    # converge and produce min-lexicographic cluster labels
    pairs = spark.createDataFrame(
        [("b", "c"), ("c", "d"), ("x", "y")], ["key_a", "key_b"]
    )
    got = {r["key"]: r["cluster"] for r in D.cluster_duplicates(pairs).collect()}
    assert got == {"b": "b", "c": "b", "d": "b", "x": "x", "y": "x"}


def test_two_components_do_not_merge(spark):
    # checksum equality must compare per-round totals, not component
    # structure: two components whose label sums coincide with a merged
    # layout would be the dangerous aliasing case — construct disjoint
    # components and assert they stay distinct
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (100, 101), (101, 102)], ["key_a", "key_b"]
    )
    got = {r["key"]: r["cluster"] for r in D.cluster_duplicates(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 100: 100, 101: 100, 102: 100}


def test_fractional_keys_use_join_fallback(spark):
    # the checksum casts labels to decimal(38,0), which rounds 0.00..0.32
    # to 0: a label moving from 0.01 to 0.00 left the checksum unchanged,
    # the loop stopped after one round and 28 of these 33 nodes kept a
    # local-min label. Fractional keys must take the join-based check.
    keys = [round(i / 100, 2) for i in range(33)]
    pairs = spark.createDataFrame(
        [(keys[i], keys[i + 1]) for i in range(32)], ["key_a", "key_b"]
    )
    got = {r["key"]: r["cluster"] for r in D.cluster_duplicates(pairs).collect()}
    assert got == {k: 0.0 for k in keys}


def test_fractional_decimal_keys_use_join_fallback(spark):
    from decimal import Decimal

    keys = [Decimal(i).scaleb(-2) for i in range(33)]
    pairs = spark.createDataFrame(
        [(keys[i], keys[i + 1]) for i in range(32)],
        "key_a decimal(4,2), key_b decimal(4,2)",
    )
    got = {r["key"]: r["cluster"] for r in D.cluster_duplicates(pairs).collect()}
    assert got == {k: Decimal("0.00") for k in keys}
