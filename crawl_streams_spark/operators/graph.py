"""Link-graph analytics over (src, dst, weight) edge relations — the
host-graph view of a crawl stream (reference analysis.py:136-138 counts
distinct via→host links per host; this family generalizes that to degree
statistics and iterative influence propagation over the same edges).

Iterative algorithms are DataFrame loops in the style of
operators/dedup.py::cluster_duplicates and similarity.py::kmeans_train:
one join + one aggregation per round, lineage cut with localCheckpoint,
no RDDs, no driver-side collects. Loops that run to a fixed point
(``bfs_distances``) go through ``iterate.fixed_point``, which releases
each superseded round and reads convergence from a per-row flag.

Scale (100 TB of edges):
- degree stats are one partial-agg shuffle per side (out by src, in by
  dst) plus a merge join of two node-sized relations;
- each propagation round joins units (node-sized) to edges on src —
  co-partitioned hash joins reuse the same key round over round — then
  aggregates contributions keyed by dst. In-degree skew (popular hosts)
  is absorbed by partial aggregation: a hot dst receives ONE partial row
  per map task, the same measured argument as the 84%-one-host aggregate
  (tests/test_skew.py);
- rounds are O(iters) shuffles; localCheckpoint keeps the plan flat.

``propagate_units`` is the cross-engine-exact form (integer mass, integer
division — order-insensitive sums, so the DuckDB oracle unrolls the same
rounds bit-for-bit). ``pagerank`` is the standard double-precision form
(float accumulation is order-sensitive, so it is test-verified against a
dense NumPy power iteration instead of the hash gate).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .iterate import check_converged, fixed_point, pin, unpin

__all__ = [
    "nodes_of",
    "degree_stats",
    "propagate_units",
    "pagerank",
    "triangle_count",
    "k_core",
    "bfs_distances",
]


def nodes_of(edges: DataFrame) -> DataFrame:
    """Distinct node relation of an edge list (src ∪ dst)."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-node degree statistics:
    (node, out_degree, in_degree, out_weight, in_weight) — distinct
    neighbor counts and total edge weight per direction; 0 for missing
    directions (full outer merge of the two one-shuffle aggregates)."""
    out = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree"),
        F.sum("weight").alias("out_weight"),
    )
    inn = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree"),
        F.sum("weight").alias("in_weight"),
    )
    return (
        out.join(inn, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_weight", F.lit(0)).alias("out_weight"),
            F.coalesce("in_weight", F.lit(0)).alias("in_weight"),
        )
    )


def propagate_units(
    edges: DataFrame,
    iters: int = 3,
    init_units: int = 1_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Integer mass propagation (the hash-gate-exact influence kernel):
    every node starts with ``init_units``; each round, a node pushes its
    units along out-edges proportionally to edge weight using INTEGER
    division — dst receives Σ over in-edges of
    (units(src) · weight) div out_weight(src). Returns (node, units)
    after ``iters`` rounds; nodes receiving nothing report 0.

    Integer sums are order-insensitive, so results are identical on any
    partitioning and bit-reproducible in a SQL oracle that unrolls the
    same rounds. Remainder units from the floor division evaporate each
    round (deterministically) — this is an influence ranking, not a
    conservation law."""
    nodes = nodes_of(edges)
    ow = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    e = edges.join(ow, "src").select("src", "dst", "weight", "out_w")
    e = pin(e, checkpoint_dir, eager=False)
    units = nodes.select(
        F.col("node").alias("src"), F.lit(init_units).cast("bigint").alias("units")
    )
    for _ in range(iters):
        units = (
            e.join(units, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(units * weight) div out_w").alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("units"))
            .select(F.col("node").alias("src"), "units")
        )
        units = pin(units, checkpoint_dir)
    return (
        nodes.join(units.select(F.col("src").alias("node"), "units"), "node", "left")
        .select("node", F.coalesce("units", F.lit(0)).cast("bigint").alias("units"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Weighted PageRank, double precision: pr ← (1−d)/N + d·Σ_in
    pr(src)·w/out_w(src). Dangling-node mass is redistributed uniformly
    each round (the standard stochastic-matrix completion), so Σ pr = 1
    up to float error at every round. Returns (node, pagerank).

    Float accumulation is order-sensitive — verified against a dense
    NumPy power iteration in tests (not the cross-engine hash gate; use
    ``propagate_units`` when bit-exactness across engines matters)."""
    nodes = pin(nodes_of(edges), checkpoint_dir, eager=False)
    n = nodes.count()
    ow = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    e = edges.join(ow, "src").select("src", "dst", "weight", "out_w")
    e = pin(e, checkpoint_dir, eager=False)
    sources = ow.select("src")
    pr = nodes.select(
        F.col("node").alias("src"), F.lit(1.0 / n).alias("pr")
    )
    for _ in range(iters):
        # dangling mass as a broadcast 1-row relation — no driver collect,
        # the whole round stays one plan
        dang = pr.join(sources, "src", "left_anti").agg(
            F.coalesce(F.sum("pr"), F.lit(0.0)).alias("dang")
        )
        contrib = (
            e.join(pr, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("pr") * F.col("weight") / F.col("out_w")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                F.col("node").alias("src"),
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("dang") / n
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("pr"),
            )
        )
        pr = pin(pr, checkpoint_dir)
    return pr.select(F.col("src").alias("node"), F.col("pr").alias("pagerank"))


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation (the
    compact-forward / node-iterator++ scheme: Latapy 2008, "Main-memory
    triangle computations for very large (sparse (power-law)) graphs").

    Edges (src, dst[, weight]) are undirected for counting: canonical
    unordered pairs, then each edge oriented from its lower-(degree, id)
    endpoint to the higher one. Wedges are built only out of orientation
    order (x→y joined y→z), and a triangle closes iff x→z is also an
    oriented edge — each triangle materializes exactly once as its
    rank-sorted triple, no ×6 dedup.

    Why degree ordering matters at 100 TB: the wedge join's fan-out per
    node is its OUT-degree under the orientation, and orienting toward
    higher degree caps out-degrees at O(√m) on any graph — a hub with
    degree d contributes O(d) wedges instead of O(d²), which is the
    difference between a skew-split shuffle and an executor OOM on
    power-law link graphs. Three shuffles total (orient join, wedge join,
    closure semi-join) + the degree aggregation.

    Returns (node, n_triangles) for every node with ≥1 edge (zeros
    included).

    r13: ``und`` and ``oriented`` are materialized once (lazy
    localCheckpoint). The plan references und 4× (deg, ranked, and
    transitively every oriented consumer) and oriented 3× (both wedge
    sides + the closure build) — without the pins each reference
    re-evaluates the whole upstream edge derivation (the before plan
    carried 20 source scans). Both relations are edge-set-sized, far
    smaller than the raw input the edges aggregation consumed, so the
    materialization is bounded and the re-derivation work drops ~7× —
    the same §3.3 "materialise the reused intermediate" posture as
    propagate_units/pagerank/bfs in this module."""
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ranked = und.join(da, "a").join(db, "b")
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    ).localCheckpoint(eager=False)
    e1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = oriented.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    wedges = e1.join(e2, "y")
    closer = oriented.select(
        F.col("lo").alias("x"), F.col("hi").alias("z")
    )
    tris = wedges.join(closer, ["x", "z"], "left_semi")
    per_node = (
        tris.select(F.explode(F.array("x", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.select("v")
        .join(per_node, "v", "left")
        .select(
            F.col("v").alias("node"),
            F.coalesce("n_triangles", F.lit(0).cast("bigint")).alias(
                "n_triangles"
            ),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
    on_nonconverge: str = "raise",
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    undirected degree ≥ k (Seidman 1983) — the standard dense-community
    filter (drop the long tail of barely-connected hosts before
    expensive graph analytics).

    Iterative peeling as a DataFrame loop (the cluster_duplicates
    shape): each round recomputes degrees on the SURVIVING subgraph and
    anti-joins out nodes below k; the fixed point is unique regardless
    of removal order (peeling is confluent), so results are
    partitioning-independent. O(peel-depth) rounds, each one
    partial-agg'd degree shuffle + two anti-joins; lineage cut per
    round via ``iterate.pin`` (``checkpoint_dir`` switches to reliable
    checkpoints for preemptible clusters), and each superseded round
    released once the next is pinned. The state shrinks instead of
    changing row by row, so peeling keeps its own loop rather than
    ``iterate.fixed_point``'s per-row flag. A graph needing more than
    ``max_iter`` peel rounds is reported through ``on_nonconverge``
    (default raise) instead of silently returning sub-k nodes (ADVICE
    r3). Returns (node, core_degree) — the node's degree WITHIN the
    k-core."""
    und = pin(
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        checkpoint_dir,
    )

    def _weak(rel: DataFrame) -> DataFrame:
        deg = (
            rel.select(F.explode(F.array("a", "b")).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        return deg.filter(F.col("d") < k).select("v")

    converged = False
    for _ in range(max_iter):
        weak = _weak(und)
        if weak.limit(1).count() == 0:
            converged = True
            break
        nxt = pin(
            und.join(weak.withColumnRenamed("v", "a"), "a", "left_anti")
            .join(weak.withColumnRenamed("v", "b"), "b", "left_anti")
            .select("a", "b"),
            checkpoint_dir,
        )
        # every und is this loop's own pin, and nxt no longer reads it
        unpin(und)
        und = nxt
    # the cap may have landed exactly on the fixed point: one last check
    if not converged:
        converged = _weak(und).limit(1).count() == 0
    try:
        check_converged(converged, "k_core", max_iter, on_nonconverge)
    except (RuntimeError, ValueError):  # what check_converged raises
        unpin(und)
        raise
    return (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 30,
    directed: bool = True,
    checkpoint_dir: str | None = None,
    on_nonconverge: str = "raise",
) -> DataFrame:
    """Minimum hop distance from a seed set to every reachable node —
    iterative frontier relaxation as a DataFrame loop: each round joins
    the current distance relation to the edge list and keeps the
    per-node MIN, stopping at the fixed point. Integer mins are
    order-insensitive, so (like propagate_units / cluster_duplicates)
    the result is partitioning-independent and a recursive SQL oracle
    reproduces it exactly.

    ``sources`` is a one-column (node) relation (distance 0). Returns
    (node, dist) for reachable nodes only. O(diameter) rounds, one
    edge-keyed join + partial-agg'd min per round; the edge relation is
    materialized once (localCheckpoint). The loop is
    ``iterate.fixed_point``: each round carries a node's previous
    distance as ``min(own)`` beside ``min(dist)``, so a node that
    appeared or got closer is flagged in the aggregate itself and the
    convergence check needs no join. Superseded rounds and the edge pin
    are released before returning; a pinned ``sources`` is left alone."""
    e = edges.select("src", "dst")
    if not directed:
        e = e.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
    e = pin(e.distinct(), checkpoint_dir)
    dist = sources.select(
        F.col(sources.columns[0]).alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
    ).distinct()

    def _relax(cur: DataFrame) -> DataFrame:
        cur = cur.select("node", "dist", F.col("dist").alias("own"))
        step = cur.join(e, e["src"] == cur["node"]).select(
            F.col("dst").alias("node"),
            (F.col("dist") + 1).alias("dist"),
            F.lit(None).cast("bigint").alias("own"),
        )
        return (
            cur.unionByName(step)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"), F.min("own").alias("own"))
            # any node that appeared or got closer
            .select(
                "node",
                "dist",
                (F.col("own").isNull() | (F.col("dist") < F.col("own"))).alias(
                    "moved"
                ),
            )
        )

    # a graph with diameter > max_iter would silently omit far nodes
    # (ADVICE r3); fixed_point reports it, after one extra round that
    # tells "landed exactly on the answer" from truncation (ADVICE r4)
    try:
        dist = fixed_point(
            dist, _relax, "bfs_distances", max_iter, checkpoint_dir,
            on_nonconverge,
        )
    finally:
        unpin(e)
    return dist.select("node", "dist")
