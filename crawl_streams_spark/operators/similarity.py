"""Similarity-search operators over embedding columns (north-star
extension): exact brute-force top-k (broadcast the query set) and two scale
paths — random-hyperplane LSH bucketing and IVF (centroid-partitioned)
search. The oracle-certified exact kernels live in plans/q_similarity.py;
the approximate variants are rows-only checked plus recall-tested in
tests/test_similarity.py.

Scale design (100 TB of vectors):
- brute force: only for a broadcastable query set — one narrow map over the
  corpus, per-partition partial top-k, no corpus shuffle.
- LSH: bucket id is a narrow map; join queries to corpus on bucket id —
  corpus shuffles once by bucket (or is pre-bucketed/bucketed-table), and
  each query probes its bucket + optional multi-probe neighbors.
- IVF: k centroids (tiny, broadcast) assign each vector a cell; queries
  search n_probe nearest cells only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions import vectors as V


def _planes(num_planes: int, dim: int, seed: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes without RNG state: plane[j][i]
    = ±1 by parity of a hash of (seed, j, i) — sign-pattern planes are the
    classic cheap SRP choice and need no normalization for sign tests.
    Distinct `seed`s give independent plane sets (for multi-signature
    unions)."""
    out = []
    for j in range(num_planes):
        row = []
        for i in range(dim):
            x = seed * 1_000_003 + j * dim + i
            h = (1103515245 * x + 12345) % (1 << 31)
            row.append(1.0 if (h >> 13) & 1 else -1.0)
        out.append(row)
    return out


def srp_planes_for(corpus_size: int, target_bucket: int = 4096) -> int:
    """Plane count so the EXPECTED bucket size n/2^planes ≈ `target_bucket`.

    In-bucket verification is quadratic, so total work is
    Θ(n²/2^planes) = Θ(n · target_bucket) — linear in n for a fixed
    target. A fixed plane count instead leaves work Θ(n²/const), a
    scale-killer: 6 planes at n=10⁹ means 1.5×10⁷-row buckets and 10¹⁴
    in-bucket comparisons per bucket. Recall lost to the extra planes is
    recovered by unioning multiple independent signatures
    (``embedding_dedup(num_signatures=...)``), which multiplies cost only
    linearly.

    A corpus that already fits one target bucket gets ZERO planes — one
    constant bucket, exact all-pairs verification inside it — which is
    both cost-bounded (≤ target_bucket² comparisons) and lossless. One
    plane there would split the corpus in two and lose ≈θ/π of near-dup
    pairs (~10% at cos 0.95) per signature for no cost benefit."""
    import math

    if corpus_size <= target_bucket:
        return 0
    return max(1, math.ceil(math.log2(corpus_size / target_bucket)))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast `queries` (small by contract), score every
    corpus vector, per-query window top-k."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = corpus.join(
        F.broadcast(q), F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        V.cosine("q_vec", vec_col).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def with_lsh_bucket(
    df: DataFrame, num_planes: int = 8, dim: int = 64, vec_col: str = "embedding"
) -> DataFrame:
    """Assign each vector its random-hyperplane sign bucket (2^num_planes
    buckets)."""
    return df.withColumn(
        "bucket", V.sign_bucket(F.col(vec_col), _planes(num_planes, dim))
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors in the query's SRP
    bucket; exact cosine re-rank inside the bucket.

    ``probe_radius=1`` enables multi-probe: each query additionally probes
    every bucket at Hamming distance 1 (one hyperplane sign flipped) — the
    buckets a true neighbor most likely fell into when it landed on the
    other side of exactly one plane. Cost grows ×(num_planes+1) probes per
    query (still tiny vs the corpus), recall rises sharply; the corpus side
    is untouched — still one bucket shuffle — so the sweep trades only
    query-side fan-out for recall. Tests measure recall-vs-cost against
    brute force."""
    if probe_radius not in (0, 1):
        raise ValueError("probe_radius must be 0 or 1")
    cb = with_lsh_bucket(corpus, num_planes, dim, vec_col)
    qb = with_lsh_bucket(queries, num_planes, dim, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "bucket",
    )
    if probe_radius == 1:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j))
                for j in range(num_planes)
            ],
        )
        qb = qb.withColumn("bucket", F.explode(probes))
    scored = cb.join(F.broadcast(qb), "bucket").filter(
        F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        V.cosine("q_vec", vec_col).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def embedding_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    num_planes: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_signatures: int = 1,
    target_bucket: int = 4096,
    corpus_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate removal, LSH-bucketed: candidates
    are pairs sharing an SRP bucket (cos≈1 pairs agree on every hyperplane
    sign with probability (1-θ/π)^planes), verified with exact cosine; the
    higher id of each confirmed pair is dropped.

    Scale contract (100 TB): the all-pairs check is impossible, so work
    must stay Θ(n · target_bucket), not Θ(n²/const). By default
    ``num_planes`` is DERIVED from the corpus size so the expected bucket
    n/2^planes ≈ ``target_bucket`` (see srp_planes_for) — pass
    ``corpus_size`` if known to skip the count() job. Recall lost to
    deeper bucketing is recovered with ``num_signatures`` independent
    plane sets whose victim sets union (per-signature miss probabilities
    multiply: a cos-0.95 pair missed by one 10-plane signature with
    p≈1-0.9^10≈0.65 survives s signatures with p^s); cost grows only
    linearly in signatures. Each signature is one narrow map (bucket id) +
    one bucket shuffle + in-bucket quadratic verification."""
    if num_planes is None:
        n = corpus_size if corpus_size is not None else corpus.count()
        num_planes = srp_planes_for(n, target_bucket)
    loser_sets = []
    for s in range(num_signatures):
        b = corpus.select(
            F.col(id_col),
            F.col(vec_col),
            V.sign_bucket(
                F.col(vec_col), _planes(num_planes, dim, seed=s)
            ).alias("bucket"),
        )
        x, y = b.alias("x"), b.alias("y")
        ka, kb = F.col(f"x.{id_col}"), F.col(f"y.{id_col}")
        loser_sets.append(
            x.join(y, (F.col("x.bucket") == F.col("y.bucket")) & (ka < kb))
            .select(
                kb.alias(id_col),
                V.cosine(F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}")).alias(
                    "cos"
                ),
            )
            .filter(F.col("cos") >= threshold)
            .select(id_col)
        )
    losers = loser_sets[0]
    for extra in loser_sets[1:]:
        losers = losers.union(extra)
    return corpus.join(losers.distinct(), id_col, "left_anti")


def train_ivf_centroids(
    corpus: DataFrame, by: str = "label", vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """IVF coarse quantizer: centroids = per-cell mean vectors. Here the
    cell assignment column is given (`label`); a full k-means would iterate
    assign→average with the same two operators."""
    return corpus.groupBy(by).agg(
        F.array(
            *[
                F.avg(F.element_at(vec_col, i + 1).cast("double"))
                for i in range(dim)
            ]
        ).alias("centroid")
    )


def kmeans_train(
    corpus: DataFrame,
    k: int = 10,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """DataFrame-only Lloyd's k-means for the IVF coarse quantizer
    (returns (cell, centroid)). Iterative algorithm, no RDDs, no collects:

      init    cell = id % k (deterministic, no RNG)
      assign  argmin squared-L2 via broadcast(centroids) + slim
              (id, struct(dist, cell)) min — ties break on the lowest
              cell id, so assignment is deterministic even on exact
              distance ties — joined back to the id-keyed corpus
      update  per-cell per-dimension mean

    Each iteration = one broadcast join + one slim grouped aggregation +
    one id-keyed join; the corpus is never shuffled by vector and never
    grouped on a vector key. Inertia is monotone non-increasing (Lloyd),
    tested in test_similarity."""
    d = corpus.select(
        F.col(id_col).alias("__id"), V.to_double_array(vec_col).alias("__v")
    )
    assigned = d.withColumn("cell", F.pmod(F.col("__id"), F.lit(k)))
    for _ in range(iters):
        cents = assigned.groupBy("cell").agg(
            F.array(
                *[
                    F.avg(F.element_at("__v", i + 1))
                    for i in range(dim)
                ]
            ).alias("centroid")
        )
        dist = F.aggregate(
            F.zip_with(
                F.col("__v"), F.col("centroid"), lambda a, c: (a - c) * (a - c)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        best = (
            d.join(F.broadcast(cents))
            .select("__id", F.struct(dist.alias("d"), "cell").alias("__s"))
            .groupBy("__id")
            .agg(F.min("__s").alias("__s"))
            .select("__id", F.col("__s.cell").alias("cell"))
        )
        assigned = d.join(best, "__id")
        assigned = assigned.localCheckpoint(eager=True)
    return assigned.groupBy("cell").agg(
        F.array(
            *[F.avg(F.element_at("__v", i + 1)) for i in range(dim)]
        ).alias("centroid")
    )


def kmeans_inertia(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Σ min-squared-distance — the k-means objective (for tests/tuning).
    Groups by the (narrow) id column, never the vector itself — a wide-key
    shuffle on a 64-double array would move the whole corpus through the
    exchange keyed on 512-byte keys."""
    d = corpus.select(
        F.col(id_col).alias("__id"), V.to_double_array(vec_col).alias("__v")
    )
    dist = F.aggregate(
        F.zip_with(F.col("__v"), F.col("centroid"), lambda a, c: (a - c) * (a - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    per_vec = (
        d.join(F.broadcast(centroids))
        .select("__id", dist.alias("__d"))
        .groupBy("__id")
        .agg(F.min("__d").alias("mind"))
    )
    return per_vec.agg(F.sum("mind")).collect()[0][0]


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: route each query to its `n_probe` nearest centroids
    (broadcast centroid table), scan only those cells, exact re-rank."""
    cent = centroids.select(
        F.col(cell_col).alias("cell"), F.col("centroid")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim"), F.asc("cell")
    )
    probes = (
        q.join(F.broadcast(cent))
        .select(
            "query_id",
            "q_vec",
            "cell",
            V.cosine("q_vec", "centroid").alias("cent_sim"),
        )
        .withColumn("prb", F.row_number().over(probe_w))
        .filter(F.col("prb") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )
    scored = corpus.withColumnRenamed(cell_col, "cell").join(
        F.broadcast(probes), "cell"
    ).filter(F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        V.cosine("q_vec", vec_col).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def _subspace_rows(
    corpus: DataFrame, m: int, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, subspace, __v) — each vector split into `m` contiguous
    subvectors of dim/m coordinates (one explode, no shuffle). The
    double-array conversion is staged through a named column so the m
    slices share ONE evaluation (ROUNDLOG lesson 1: Catalyst inlines
    multi-use expression subtrees)."""
    sub = dim // m
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.slice(F.col("__full"), j * sub + 1, sub).alias("__v"),
            )
            for j in range(m)
        ]
    )
    return (
        corpus.select(
            F.col(id_col).alias("__id"),
            V.to_double_array(vec_col).alias("__full"),
        )
        .select("__id", F.explode(parts).alias("s"))
        .select(
            "__id",
            F.col("s.subspace").alias("subspace"),
            F.col("s.__v").alias("__v"),
        )
    )


def _sq_dist(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_dist_batch(a, b):
    """Bit-exact vectorized twin of :func:`_sq_dist` for HEAVY
    projection sites (guide §4.2): the zip_with/aggregate HOF chain is
    CodegenFallback — every (x−y)² term is an interpreted lambda step,
    and the IVF-PQ kernels burn tens of core-seconds on it (r13 §15) —
    while this kernel receives Arrow batches and accumulates with one
    vectorized numpy op per DIMENSION in the SAME left-fold order:
    acc_i = ((t₀+t₁)+…+tᵢ) where tᵢ=(xᵢ−yᵢ)·(xᵢ−yᵢ), each numpy
    element-op one IEEE double op, so results are bit-identical to the
    HOF (and to the DuckDB oracles' hand-spelled `t1 + t2 + …` chains;
    0.0+t₀≡t₀ because squares are never −0.0).

    Scope: PROJECTION contexts over dense non-null arrays only — inside
    a join condition the HOF's tight fold wins (the r13 unrolled-chain
    rejection), and a NULL ELEMENT inside an array would surface as NaN
    here where the HOF yields NULL (whole-array NULLs and length
    mismatches are handled to match). Every caller constructs both
    arrays (to_double_array / slice / zip_with), so null elements
    cannot reach this kernel."""
    import numpy as np
    import pandas as pd

    av, bv = a.to_numpy(), b.to_numpy()
    bad = [
        i for i in range(len(av))
        if av[i] is None or bv[i] is None
        or len(av[i]) != len(bv[i])
    ]
    if not bad:
        try:
            A = np.stack([np.asarray(x, dtype=np.float64) for x in av])
            B = np.stack([np.asarray(x, dtype=np.float64) for x in bv])
            if A.ndim == 2:
                d = A - B
                sq = d * d
                acc = np.zeros(len(av), dtype=np.float64)
                for i in range(sq.shape[1]):
                    acc = acc + sq[:, i]
                return pd.Series(acc)
        except ValueError:
            pass  # ragged despite the length check: per-row fallback
    out = []
    for x, y in zip(av, bv):
        if x is None or y is None or len(x) != len(y):
            # zip_with pads the shorter side with NULL, and one NULL
            # term poisons the whole fold — the HOF returns NULL
            out.append(None)
            continue
        acc = 0.0
        for xi, yi in zip(x, y):
            d = float(xi) - float(yi)
            acc = acc + d * d
        out.append(acc)
    return pd.Series(out, dtype="object" if bad else "float64")


def _dot_batch(a, b):
    """Bit-exact vectorized twin of :func:`functions.vectors.dot_raw`
    (same contract and scope as :func:`_sq_dist_batch`): products then a
    left-fold sum per dimension in array order — acc starts at the same
    +0.0 literal as the HOF's seed, every ``acc + tᵢ`` is one IEEE
    double add, so the result is bit-identical to the interpreted
    zip_with/aggregate chain (including the oracle's hand-spelled
    ``a1*b1 + a2*b2 + …`` order). NULL arrays and length mismatches
    return NULL exactly like zip_with's NULL padding poisoning the
    fold. Projection contexts over dense arrays only — join conditions
    keep the HOF (the r13 unrolled-chain rejection)."""
    import numpy as np
    import pandas as pd

    av, bv = a.to_numpy(), b.to_numpy()
    bad = [
        i for i in range(len(av))
        if av[i] is None or bv[i] is None
        or len(av[i]) != len(bv[i])
    ]
    if not bad:
        try:
            A = np.stack([np.asarray(x, dtype=np.float64) for x in av])
            B = np.stack([np.asarray(x, dtype=np.float64) for x in bv])
            if A.ndim == 2:
                prod = A * B
                acc = np.zeros(len(av), dtype=np.float64)
                for i in range(prod.shape[1]):
                    acc = acc + prod[:, i]
                return pd.Series(acc)
        except ValueError:
            pass  # ragged despite the length check: per-row fallback
    out = []
    for x, y in zip(av, bv):
        if x is None or y is None or len(x) != len(y):
            out.append(None)
            continue
        acc = 0.0
        for xi, yi in zip(x, y):
            acc = acc + float(xi) * float(yi)
        out.append(acc)
    return pd.Series(out, dtype="object" if bad else "float64")


#: Lazily-built pandas UDFs over the batch kernels: the decorator form
#: parses its DDL return type at import, which needs an active
#: SparkContext — plans import this module long before any session
#: exists. The dot kernel is marked non-deterministic (guide §4.4): it
#: IS a deterministic function, but the flag stops the optimizer from
#: duplicating the evaluation below a filter that references the
#: projected column (one ArrowEvalPython node instead of two — its
#: caller filters on the projected cos_sim). _sq_dist_arrow feeds
#: min_by aggregates, never a filter, so it stays unmarked.
_SQ_DIST_ARROW = None
_DOT_ARROW = None


def _sq_dist_arrow(a, b) -> Column:
    global _SQ_DIST_ARROW
    if _SQ_DIST_ARROW is None:
        from pyspark.sql.types import DoubleType

        _SQ_DIST_ARROW = F.pandas_udf(_sq_dist_batch, DoubleType())
    return _SQ_DIST_ARROW(a, b)


def _dot_arrow(a, b) -> Column:
    global _DOT_ARROW
    if _DOT_ARROW is None:
        from pyspark.sql.types import DoubleType

        _DOT_ARROW = F.pandas_udf(
            _dot_batch, DoubleType()
        ).asNondeterministic()
    return _DOT_ARROW(a, b)


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codebook: per-subspace k-means over the
    corpus's subvectors — returns (subspace, cell, centroid). All `m`
    subspace trainings run JOINTLY as one DataFrame iteration (Lloyd's on
    the exploded (id, subspace, subvector) relation): per round one
    broadcast of the m·k centroids and one grouped aggregation, exactly
    the kmeans_train shape (deterministic id%k init, no RNG, no collects).

    Scale: the codebook is m·k·(dim/m) doubles — a few KB at any corpus
    size — while training scans the corpus once per iteration and shuffles
    only (key, partial) aggregation rows. The assignment groupBy carries
    the subvector in its key (functionally dependent on (id, subspace) —
    same group count, wider rows) to avoid a second join, mirroring
    kmeans_train."""
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    sub = dim // m
    rows = _subspace_rows(corpus, m, dim, id_col, vec_col)
    assigned = rows.withColumn("cell", F.pmod(F.col("__id"), F.lit(k)))
    for _ in range(iters):
        cents = assigned.groupBy("subspace", "cell").agg(
            F.array(
                *[F.avg(F.element_at("__v", i + 1)) for i in range(sub)]
            ).alias("centroid")
        )
        assigned = (
            rows.join(F.broadcast(cents), "subspace")
            .select(
                "__id",
                "subspace",
                "__v",
                F.col("cell"),
                _sq_dist_arrow(F.col("__v"), F.col("centroid")).alias("__d"),
            )
            .groupBy("__id", "subspace", "__v")
            # lexicographic (__d, cell) ordering: distance ties break to
            # the LOWEST cell id deterministically (bare min_by on a float
            # distance would pick whichever tied row an executor saw first)
            .agg(F.min_by("cell", F.struct("__d", "cell")).alias("cell"))
        )
        assigned = assigned.localCheckpoint(eager=True)
    return assigned.groupBy("subspace", "cell").agg(
        F.array(
            *[F.avg(F.element_at("__v", i + 1)) for i in range(sub)]
        ).alias("centroid")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — each vector compressed to `m` small ints (nearest
    codeword per subspace): dim doubles → m bytes-ish, a 64× footprint cut
    at dim=64/m=8 that lets a 100 TB embedding corpus score from a ~1.5 TB
    codes table. One explode + broadcast codebook join + per-id rollup;
    the corpus never shuffles by vector (only the m-rows-per-id rollup
    exchanges, keyed on the id)."""
    rows = _subspace_rows(corpus, m, dim, id_col, vec_col)
    best = (
        rows.join(F.broadcast(codebook), "subspace")
        .select(
            "__id",
            "subspace",
            F.col("cell"),
            _sq_dist_arrow(F.col("__v"), F.col("centroid")).alias("__d"),
        )
        .groupBy("__id", "subspace")
        # deterministic tie-break to the lowest cell id (see pq_train)
        .agg(F.min_by("cell", F.struct("__d", "cell")).alias("cell"))
    )
    return (
        best.groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("subspace", "cell"))
                ),
                lambda s: s["cell"],
            ).alias("codes")
        )
        .select(F.col("__id").alias(id_col), "codes")
    )


def pq_knn(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, a tiny
    (m × codewords) table of exact subspace distances to every codeword is
    precomputed and broadcast; each corpus code then scores with m array
    lookups + a fold — no vector math against the corpus at all, and the
    uncompressed corpus is never read. Returns
    (query_id, neighbor_id, adc_dist, rnk).

    Scale: scoring is a narrow map over the CODES table (the 64×-smaller
    relation); the only per-query state is |Q|·m·k doubles of distance
    table, broadcast like the brute-force query set. Top-k uses the same
    per-query window as knn_bruteforce. Recall is bounded by quantization
    error — measured against brute force in tests; raise `k`/`m` (finer
    codebooks) to trade memory for recall."""
    qrows = _subspace_rows(queries, m, dim, id_col, vec_col).withColumnRenamed(
        "__id", "query_id"
    )
    qtab = (
        qrows.join(F.broadcast(codebook), "subspace")
        .select(
            "query_id",
            "subspace",
            "cell",
            _sq_dist(F.col("__v"), F.col("centroid")).alias("pdist"),
        )
        .groupBy("query_id", "subspace")
        .agg(
            # keyed by CELL ID, not position: a codebook may lose a cell to
            # an empty cluster, and a positional row would then misalign
            # every higher cell's lookup
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("cell", "pdist")))
            ).alias("row")
        )
        .groupBy("query_id")
        .agg(
            # subspace-keyed map (maps need no ordering; array_sort cannot
            # compare structs that contain a map field anyway)
            F.map_from_entries(
                F.collect_list(F.struct("subspace", "row"))
            ).alias("dtable")
        )
    )
    scored = codes.join(
        F.broadcast(qtab), F.col(id_col) != F.col("query_id")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda c, j: F.element_at(F.element_at(F.col("dtable"), j), c),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def pq_knn_rerank(
    corpus: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage PQ search (the standard IVF-PQ shape): ADC over the
    compressed codes produces a `shortlist` of candidates per query, then
    ONLY those candidates' original vectors are read for an exact re-rank.
    Recall equals the shortlist's recall (measured 0.77 for true-top-5 at
    m=8/k=16/shortlist=50 on the synthetic embeddings — near-isotropic
    vectors, PQ's worst case) while the exact math touches |Q|·shortlist
    vectors instead of the corpus.

    Scale: stage 1 scans the 64×-smaller codes table; stage 2 broadcasts
    the (query, candidate) pairs onto the corpus — a broadcast semi-probe,
    so the full-resolution corpus is never shuffled and only candidate
    rows leave their partitions. Returns (query_id, neighbor_id, sq_dist,
    rnk)."""
    cand = pq_knn(
        codes, codebook, queries, k=shortlist, m=m, dim=dim, id_col=id_col
    ).select("query_id", "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        V.to_double_array(vec_col).alias("q_vec"),
    )
    pairs = cand.join(F.broadcast(q), "query_id")
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        V.to_double_array(vec_col).alias("n_vec"),
    ).join(F.broadcast(pairs), "neighbor_id").select(
        "query_id",
        "neighbor_id",
        _sq_dist(F.col("q_vec"), F.col("n_vec")).alias("sq_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("sq_dist"), F.asc("neighbor_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, resid): nearest coarse centroid by squared L2 plus the
    RESIDUAL vector (v - centroid) — the IVF-PQ preprocessing step.
    Broadcast centroid join + per-id argmin; distance ties break to the
    lowest cell id. The residual is what the PQ codebook is trained on and
    encodes: quantizing residuals instead of raw vectors removes the
    coarse-cell offset from every vector, cutting quantization error (the
    standard IVFADC construction, Jégou/Douze/Schmid TPAMI 2011).

    Scale: the corpus shuffles once on the slim (id, vector) rollup key —
    same shape as kmeans_train's assign step; centroids are k rows."""
    d = corpus.select(
        F.col(id_col).alias("__id"), V.to_double_array(vec_col).alias("__v")
    )
    return (
        d.join(F.broadcast(centroids.select("cell", "centroid")))
        .select(
            "__id",
            "__v",
            "cell",
            "centroid",
            _sq_dist_arrow(F.col("__v"), F.col("centroid")).alias("__d"),
        )
        .groupBy("__id", "__v")
        # lexicographic (__d, cell): deterministic tie-break (see pq_train)
        .agg(
            F.min_by(
                F.struct("cell", "centroid"), F.struct("__d", "cell")
            ).alias("best")
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("best.cell").alias("cell"),
            F.zip_with(
                "__v", F.col("best.centroid"), lambda a, c: a - c
            ).alias("resid"),
        )
    )


def ivf_pq_index(
    corpus: DataFrame,
    k_cells: int = 16,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the composed IVF-PQ index: coarse k-means cells, a PQ
    codebook trained on cell RESIDUALS, and the per-vector
    (id, cell, codes) relation the search scans. Pass `centroids` /
    `codebook` to skip training (e.g. the fixed-book correctness gate).

    Scale: training is the kmeans_train / pq_train DataFrame-Lloyd shape
    (broadcast centroids, partial-agg updates, no collects); the output
    codes relation is m small ints + a cell id per vector — the ~64×
    footprint cut that lets a 100 TB corpus search from a ~1.5 TB index."""
    if centroids is None:
        centroids = kmeans_train(
            corpus, k=k_cells, iters=iters, id_col=id_col,
            vec_col=vec_col, dim=dim,
        )
    assigned = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col)
    if codebook is None:
        codebook = pq_train(
            assigned, m=m, k=k_codes, iters=iters, id_col=id_col,
            vec_col="resid", dim=dim,
        )
    # carry the cell THROUGH the encode rollup as part of a struct key
    # (functionally dependent on the id — same group count, no extra
    # SF-sized join; the naive `codes.join(assigned, id)` planned a
    # sort-merge join of two corpus-sized relations)
    packed = assigned.select(
        F.struct(F.col(id_col).alias("id"), F.col("cell")).alias("__idc"),
        "resid",
    )
    codes = pq_encode(
        packed, codebook, m=m, dim=dim, id_col="__idc", vec_col="resid"
    ).select(
        F.col("__idc.id").alias(id_col),
        F.col("__idc.cell").alias("cell"),
        "codes",
    )
    return centroids, codebook, codes


def knn_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    shortlist: int = 50,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Composed IVF-PQ search — the standard billion-scale ANN shape
    (IVFADC + rerank): route each query to its `n_probe` nearest coarse
    cells, ADC-score ONLY those cells' PQ codes against per-(query, cell)
    residual distance tables, shortlist, then exact-rerank the shortlist
    against the full-resolution corpus. Returns
    (query_id, neighbor_id, sq_dist, rnk).

    vs the parents: `knn_ivf` scans probed cells at FULL resolution
    (scanned fraction = probed-cell mass); `pq_knn_rerank` ADC-scans the
    ENTIRE codes table. The composition scans only the probed cells'
    codes (compressed) and touches |Q|·shortlist full vectors — both
    knobs cut, and the RESIDUAL codebook quantizes a tighter distribution
    than raw-vector PQ, so recall at equal shortlist improves (measured
    in scripts/ann_recall.py; SCALING.md §ANN).

    Scale: centroids (k_cells rows), the per-query distance tables
    (|Q|·n_probe·m·k_codes doubles), and the shortlist pairs all
    broadcast; the codes table is map-side pruned by the broadcast cell
    join — no shuffle of corpus or codes until the per-query top-k window
    on slim (query, neighbor, dist) rows. Nothing quadratic leaves a
    probed cell."""
    sub = dim // m
    q = queries.select(
        F.col(id_col).alias("query_id"),
        V.to_double_array(vec_col).alias("q_vec"),
    )
    # stage 0 — probe: n_probe nearest coarse cells per query, and the
    # query RESIDUAL against each probed centroid (ADC must measure from
    # the same origin the codes were encoded from)
    pw = Window.partitionBy("query_id").orderBy(F.asc("cdist"), F.asc("cell"))
    probes = (
        q.join(F.broadcast(centroids.select("cell", "centroid")))
        .select(
            "query_id",
            "q_vec",
            "cell",
            "centroid",
            _sq_dist(F.col("q_vec"), F.col("centroid")).alias("cdist"),
        )
        .withColumn("prb", F.row_number().over(pw))
        .filter(F.col("prb") <= n_probe)
        .select(
            "query_id",
            "cell",
            F.zip_with("q_vec", "centroid", lambda a, c: a - c).alias(
                "q_resid"
            ),
        )
    )
    # stage 1 — per-(query, cell) ADC tables: exact subspace distances
    # from the query residual to every codeword (|Q|·n_probe·m·k doubles)
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("subspace"),
                F.slice("q_resid", j * sub + 1, sub).alias("__v"),
            )
            for j in range(m)
        ]
    )
    book = codebook.select(
        "subspace", F.col("cell").alias("code"), F.col("centroid").alias("w")
    )
    qtab = (
        probes.select("query_id", "cell", F.explode(parts).alias("s"))
        .select("query_id", "cell", "s.subspace", F.col("s.__v").alias("__v"))
        .join(F.broadcast(book), "subspace")
        .select(
            "query_id",
            "cell",
            "subspace",
            "code",
            _sq_dist(F.col("__v"), F.col("w")).alias("pdist"),
        )
        .groupBy("query_id", "cell", "subspace")
        # keyed by CODE ID, not position (a codebook may lose a cell to an
        # empty cluster — same lesson as pq_knn)
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("code", "pdist")))
            ).alias("row")
        )
        .groupBy("query_id", "cell")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("subspace", "row"))
            ).alias("dtable")
        )
    )
    # stage 2 — pruned ADC scan: codes join the probed (query, cell)
    # pairs on the int cell id; only probed cells' codes are scored
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(
                F.element_at(F.col("dtable"), j), c
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # a code or subspace absent from the dtable makes element_at NULL,
    # and a NULL adc_dist would sort FIRST under the ascending shortlist
    # window — silently promoting unscored candidates. An inconsistent
    # codebook/codes pair must fail loudly instead (the encode stage
    # only ever emits codes present in the book, so NULL = mismatch).
    scored = (
        codes.join(F.broadcast(qtab), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.when(
                adc.isNull(),
                F.raise_error(
                    F.lit(
                        "knn_ivf_pq: ADC lookup missed — codes/codebook "
                        "mismatch (code id or subspace absent from the "
                        "distance table)"
                    )
                ).cast("double"),
            )
            .otherwise(adc)
            .alias("adc_dist"),
        )
    )
    sw = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    cand = (
        scored.withColumn("rnk", F.row_number().over(sw))
        .filter(F.col("rnk") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # stage 3 — exact rerank of the shortlist (broadcast semi-probe onto
    # the full-resolution corpus, same shape as pq_knn_rerank)
    pairs = cand.join(F.broadcast(q), "query_id")
    rer = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            V.to_double_array(vec_col).alias("n_vec"),
        )
        .join(F.broadcast(pairs), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist(F.col("q_vec"), F.col("n_vec")).alias("sq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("sq_dist"), F.asc("neighbor_id")
    )
    return rer.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell assignment: broadcast the (tiny) centroid
    table and take argmin squared-L2 per vector, ties broken by lowest
    cell id. Returns (id, __v double-array, __norm, cell).

    The distance uses the expanded form |v|² + |c|² − 2·v·c so the
    per-pair work is one dot product against a staged self-dot — and so a
    SQL oracle computing the same algebra in the same fold order gets
    bit-identical doubles (and therefore identical argmin ties).

    Scale: one broadcast join (centroids are k rows); the argmin
    aggregates SLIM (id, 16-byte struct) rows — never the vector as a
    grouping key (a 512-byte array key would pay hash+compare on the full
    vector at every exchange row) — then joins the winners back to the
    id-keyed corpus, which stays on its existing id partitioning."""
    d = corpus.select(
        F.col(id_col).alias("__id"), V.to_double_array(vec_col).alias("__v")
    ).select("__id", "__v", V.dot_raw("__v", "__v").alias("__vv"))
    c = centroids.select(
        F.col("cell"),
        F.col("centroid").alias("__c"),
    ).select("cell", "__c", V.dot_raw("__c", "__c").alias("__cc"))
    sqd = F.col("__vv") + F.col("__cc") - 2.0 * V.dot_raw("__v", "__c")
    best = (
        d.join(F.broadcast(c))
        .select("__id", F.struct(sqd.alias("d"), "cell").alias("__s"))
        .groupBy("__id")
        .agg(F.min("__s").alias("__s"))
    )
    # Pin the SLIM argmin relation (r14, guide §3.3): the self-join
    # consumer derives BOTH sides from this assignment, and without the
    # pin each side re-ran the whole corpus×centroids cross join plus
    # the argmin aggregation (the static plan held the chain twice —
    # the two differently-projected exchanges never runtime-share).
    # (id, struct) rows only — the vector column stays out of the pin;
    # each branch re-derives it with a cheap narrow corpus scan.
    best = best.localCheckpoint(eager=False)
    return d.join(best, "__id").select(
        "__id",
        "__v",
        F.sqrt("__vv").alias("__norm"),
        F.col("__s.cell").alias("cell"),
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_salt: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings around centroids, then compare
    pairs ONLY within a cluster; emit (vec_a, vec_b, cell, cos_sim) for
    in-cell pairs with cosine ≥ threshold. Cross-cell near-dup pairs are
    missed by construction — that bounded recall loss is the algorithm's
    published trade for removing the O(n²) global comparison.

    Scale: assignment is a broadcast join; the self-join shuffles the
    corpus ONCE keyed on the (narrow, int) cell id; in-cell work is
    quadratic in cell size, so pick k ≈ n / target_cell to keep total
    pair work ≈ n·target_cell — linear in n at fixed cell size. Norms
    and double-casts are staged below the join (one per row, not per
    pair).

    ``pair_salt`` (r14, guide §2.5): with FEW cells the join has at most
    k distinct keys, so the quadratic pair stage lands on ≤ k tasks no
    matter how many cores exist (measured: single straggler task at
    k=8/local[32]). Salt ``S``-ways — the left side keys on
    ``xxhash64(id) mod S`` (deterministic, guide §2.5's rand() warning),
    the right side replicates to every salt — so each in-cell pair is
    produced exactly once while the work spreads over k·S keys. The
    right-side shuffle grows ×S, so size S to the parallelism actually
    needed (callers with k cells want S ≈ 2·cores/k; 1 = off)."""
    if pair_salt < 1:
        # 0 or fewer salts would replicate the right side to no key and
        # silently return no pairs
        raise ValueError(f"pair_salt must be >= 1, got {pair_salt}")
    assigned = assign_cells(corpus, centroids, id_col, vec_col)
    a = assigned.select(
        F.col("__id").alias("vec_a"),
        F.col("__v").alias("emb_a"),
        F.col("__norm").alias("norm_a"),
        "cell",
        F.pmod(F.xxhash64("__id"), F.lit(pair_salt)).alias("__salt"),
    )
    b = assigned.select(
        F.col("__id").alias("vec_b"),
        F.col("__v").alias("emb_b"),
        F.col("__norm").alias("norm_b"),
        F.col("cell").alias("cell_b"),
        F.explode(
            F.array(*[F.lit(i) for i in range(pair_salt)])
        ).alias("__salt_b"),
    )
    # In-cell pair similarity is the quadratic stage, and the dot was an
    # interpreted zip_with/aggregate fold (CodegenFallback) per pair —
    # ~cell_size²·dim lambda steps. _dot_arrow is its bit-exact Arrow
    # twin (guide §4.2): projection context, dense arrays by
    # construction, measured 3.4 → 1.1 s at sf0.1 with the same oracle
    # hash. The fold stays identical, so cos_sim — and the emitted pair
    # set at the threshold boundary — is unchanged.
    cos = F.round(
        V.cosine_from(
            _dot_arrow(F.col("emb_a"), F.col("emb_b")),
            F.col("norm_a"),
            F.col("norm_b"),
        ),
        6,
    )
    return (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("__salt") == F.col("__salt_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", "cell", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int | None = None,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    target_cell: int = 4096,
    iters: int = 5,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Semantic dedup end to end: k-means clusters (DataFrame-only Lloyd,
    no RNG), in-cell cosine pairs ≥ threshold, transitive clustering of
    the pair graph, keep the lowest id per duplicate group. Returns the
    admitted rows of ``corpus`` (schema unchanged).

    k defaults to ceil(n / target_cell) so in-cell quadratic work stays
    linear in n at a fixed per-cell budget (same sizing contract as
    srp_planes_for)."""
    from .dedup import cluster_duplicates

    if centroids is None:
        if k is None:
            n = corpus.count()
            k = max(1, -(-n // target_cell))
        cents = kmeans_train(
            corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim
        )
    else:
        cents = centroids
    pairs = semantic_dedup_pairs(
        corpus, cents, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    clusters = cluster_duplicates(pairs, key_a="vec_a", key_b="vec_b")
    losers = clusters.filter(F.col("key") != F.col("cluster")).select(
        F.col("key").alias(id_col)
    )
    return corpus.join(losers, id_col, "left_anti")


def density_dedup_flags(
    corpus: DataFrame,
    pairs: DataFrame,
    dup_threshold: float,
    id_col: str = "vec_id",
    sim_col: str = "cos_sim",
    a_col: str = "vec_a",
    b_col: str = "vec_b",
    pin_pairs: bool = True,
) -> DataFrame:
    """Density-ranked near-duplicate flags (the HDBSCAN-exemplar idea
    applied to dedup): each point's DENSITY is its neighbor count in
    ``pairs`` (candidate pairs already thresholded upstream at the
    density radius — cell-bucketed, LSH-banded, or brute-force for small
    corpora); then in every pair at or above ``dup_threshold`` the
    LOWER-density side loses (tie: the higher id loses), so each
    near-duplicate neighborhood keeps its densest exemplar rather than
    minhash_dedup's arbitrary lowest-key winner. Returns one row per
    corpus id: (id, density, kept).

    Deterministic and SQL-replayable: density is an exact count and the
    victim rule is a pure comparison, so a brute-force oracle certifies
    the whole chain. Scale: densities are one count-shuffle over slim
    (id) rows; the victim rule joins ``pairs`` to the id-keyed density
    relation twice and never touches vectors — pair generation (the
    quadratic risk) stays in the caller's bucketed kernels
    (semantic_dedup_pairs, minhash_lsh_candidates).

    ``pin_pairs`` (default True): the flag chain consumes ``pairs``
    twice (density counts, then the dup-threshold victim rule), which
    would re-derive an expensive pair kernel per consumer —
    localCheckpoint materializes it once (lineage cut, the iterate.pin
    trade; pass False to keep the input fully lazy, e.g. when ``pairs``
    is already a materialized table)."""
    if pin_pairs:
        pairs = pairs.localCheckpoint(eager=False)
    inc = pairs.select(
        F.explode(F.array(F.col(a_col), F.col(b_col))).alias("__v")
    )
    dens = inc.groupBy("__v").agg(F.count(F.lit(1)).alias("density"))
    ids = (
        corpus.select(F.col(id_col))
        .join(dens, F.col(id_col) == F.col("__v"), "left")
        .select(
            id_col,
            F.coalesce("density", F.lit(0)).cast("bigint").alias("density"),
        )
    )
    slim = ids.select(
        F.col(id_col).alias("__id"), F.col("density").alias("__d")
    )
    dup = pairs.filter(F.col(sim_col) >= dup_threshold).select(a_col, b_col)
    da, db = F.col("__da"), F.col("__db")
    a, b = F.col(a_col), F.col(b_col)
    losers = (
        dup.join(
            slim.select(
                F.col("__id").alias(a_col), F.col("__d").alias("__da")
            ),
            a_col,
        )
        .join(
            slim.select(
                F.col("__id").alias(b_col), F.col("__d").alias("__db")
            ),
            b_col,
        )
        .select(
            F.when(da < db, a)
            .when(da > db, b)
            .otherwise(F.greatest(a, b))
            .alias("__loser")
        )
        .distinct()
    )
    return ids.join(
        losers, F.col(id_col) == F.col("__loser"), "left"
    ).select(
        id_col, "density", F.col("__loser").isNull().alias("kept")
    )


# -- OPQ: rotation-optimized product quantization ---------------------------


def rotate_embeddings(
    df: DataFrame,
    rotation: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply a fixed d×d linear map to every vector: out[i] = Σ_j
    R[i][j]·v[j], folded LEFT in j order (the cross-engine discipline —
    a SQL oracle replays the same sequential double chain). The matrix
    ships as a literal expression, so the whole rotation is ONE narrow
    per-row map: no shuffle, no join, embarrassingly parallel at any
    corpus size. The input array is staged through a named column so
    the d row-dot-products share one double-cast evaluation
    (the _subspace_rows lesson)."""
    out_col = out_col or vec_col
    staged = df.withColumn("__rv", V.to_double_array(vec_col))
    n_total = sum(len(row) for row in rotation)
    n_zero = sum(1 for row in rotation for x in row if float(x) == 0.0)
    if n_zero >= 0.75 * n_total:
        # r13 (guide §4.1/§1.2): SPARSE fast path. The HOF form below is
        # CodegenFallback — for a structured rotation (e.g. the fixed
        # 2×2-Givens-block gate: 2 nonzeros per row) it interprets
        # dim² lambda steps per row where dim·nnz_per_row suffice.
        # Skipping a zero entry is exact on finite inputs (0.0·v = ±0.0
        # and acc + ±0.0 = acc for the fold's non-negative-zero
        # accumulator), and it reproduces the ORACLE's arithmetic
        # literally — _opq_rvec_sql already writes only the nonzero
        # terms. Left fold in j order is preserved term for term.
        # Requires well-formed fixed-dim vectors (the same contract the
        # SQL oracle's direct indexing assumes). Measured on the fixed
        # OPQ gate at sf0.1: knn_opq_fixed 13.6 → ~2 s, the rotate+encode
        # stage 37.6 → 10.7 core-s (see OPTIMIZATION_r13.md). A broader
        # unroll of _sq_dist / the ADC fold / dot_raw was A/B-measured
        # the same day and REJECTED — in real query shapes (join-filter
        # contexts) the HOF beats an element_at chain by up to 4×; only
        # the sparse-skip here, which removes work rather than
        # re-spelling it, survives.
        def _row_expr(row):
            acc = F.lit(0.0)
            for j, x in enumerate(row):
                if float(x) != 0.0:
                    acc = acc + F.lit(float(x)) * F.element_at(
                        "__rv", j + 1
                    )
            return acc

        rotated = F.array(*[_row_expr(row) for row in rotation])
    else:
        # dense rotations keep the HOF: an unrolled dim² element_at
        # chain measured ~2.5× slower than the fold (functions/vectors
        # module note) when every term is live.
        rows = F.array(
            *[
                F.array(*[F.lit(float(x)) for x in row])
                for row in rotation
            ]
        )
        rotated = F.transform(
            rows,
            lambda r: F.aggregate(
                F.zip_with(r, F.col("__rv"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    return staged.withColumn(out_col, rotated).drop("__rv")


def _opq_moments_exact(corpus: DataFrame, vec_col: str, dim: int):
    """Σ x·xᵀ, Σ x, n through pure aggregate expressions: slim
    (j, v_j, v) rows, grouped elementwise sums — d rows × (d sums + 1)
    out. Exact and shuffle-light, but the d² aggregate expressions kill
    codegen past dim≈128 (VERDICT r9 item 6) — the sampled kernel below
    takes over there."""
    import numpy as np

    v = V.to_double_array(vec_col)
    rows = corpus.select(v.alias("__v")).select(
        "__v", F.posexplode("__v").alias("j", "__vj")
    )
    stats = (
        rows.groupBy("j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__vj").alias("s"),
            *[
                F.sum(F.element_at("__v", i + 1) * F.col("__vj")).alias(
                    f"m{i}"
                )
                for i in range(dim)
            ],
        )
        .collect()
    )
    if not stats:
        raise ValueError("opq_train: empty corpus")
    n = stats[0]["n"]
    mu = np.zeros(dim)
    mom = np.zeros((dim, dim))
    for r in stats:
        j = r["j"]
        mu[j] = r["s"] / n
        mom[j] = [r[f"m{i}"] for i in range(dim)]
    return n, mu, mom


def _opq_moments_sampled(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    sample_fraction: float,
    stats_partitions: int,
    seed: int,
):
    """Σ x·xᵀ, Σ x, n via a mapInPandas PARTIAL-COVARIANCE kernel over a
    bounded sample — the high-dim path (VERDICT r9 item 6): each
    partition emits one (n, Σx, Σx·xᵀ) partial as Arrow arrays (a d²
    BLAS gemm per batch, no per-element expressions), the driver sums
    ``stats_partitions`` partials and runs the d×d eigh. Driver collect
    volume is stats_partitions × d² doubles (dim 1536 → ~19 MB × 16
    partials), independent of corpus size; the rotation only needs a
    covariance ESTIMATE, so a sample is the right trade at scale (the
    codebook still trains on the full rotated corpus)."""
    import numpy as np
    import pandas as pd

    src = corpus.select(V.to_double_array(vec_col).alias("__v"))
    if sample_fraction < 1.0:
        src = src.sample(fraction=sample_fraction, seed=seed)
    src = src.repartition(stats_partitions)

    def partial(batches):
        n = 0
        s = np.zeros(dim)
        mom = np.zeros((dim, dim))
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["__v"]]
            )
            if x.ndim != 2 or x.shape[1] != dim:
                raise ValueError(
                    f"opq_train: vectors must have dim {dim}, got "
                    f"shape {x.shape}"
                )
            n += x.shape[0]
            s += x.sum(axis=0)
            mom += x.T @ x
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [s.tolist()],
                    "m": [mom.reshape(-1).tolist()],
                }
            )

    parts = src.mapInPandas(
        partial, "n long, s array<double>, m array<double>"
    ).collect()
    if not parts:
        raise ValueError("opq_train: empty corpus (or empty sample)")
    n = sum(p["n"] for p in parts)
    mu = np.zeros(dim)
    mom = np.zeros((dim, dim))
    for p in parts:
        mu += np.asarray(p["s"])
        mom += np.asarray(p["m"]).reshape(dim, dim)
    mu /= n
    return n, mu, mom


def opq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    sample_fraction: float | None = None,
    stats_partitions: int = 16,
    seed: int = 0,
):
    """Parametric OPQ (Ge et al., "Optimized Product Quantization",
    CVPR 2013 — the eigenvalue-allocation closed form): learn an
    orthogonal rotation R that decorrelates the data and balances
    variance across the m PQ subspaces, then train an ordinary PQ
    codebook on the rotated vectors. Returns ``(rotation, codebook)``
    where rotation is a d×d row-major list (apply with
    ``rotate_embeddings``) and codebook is the (subspace, cell,
    centroid) relation of ``pq_train``.

    Distribution-of-work honesty: everything DATA-SIZED is DataFrame —
    the d×d second-moment matrix accumulates through one slim
    posexplode + grouped elementwise sums (map-side partial agg, one
    shuffle of d·n scalar-keyed rows), the rotation applies as a
    narrow map, and the codebook trains with pq_train's joint Lloyd's
    iteration. Only the d×d eigendecomposition runs driver-side in
    NumPy — a 64×64 solve, the same driver-scale step as collecting
    k-means centroids between rounds (kmeans_train), and NOT a
    DataFrame-expressible computation (LAPACK iteration). The paper's
    non-parametric alternation (SVD per iteration) buys little over
    the parametric form at PQ's operating points and would add a
    driver SVD per round, so the closed form is the right
    Spark-first choice.

    Eigenvalue allocation: eigenvectors greedily assigned to the
    subspace with the smallest running log-eigenvalue product (§4's
    balanced-variance criterion), so no subspace hogs the spectrum —
    the failure mode that makes plain PQ waste codewords on
    low-variance dims when the data is anisotropic. On isotropic data
    R converges to an arbitrary orthonormal basis and OPQ ≡ PQ (no
    win, no loss) — measured in tests/test_similarity.py on both a
    correlated fixture (OPQ > PQ) and the near-isotropic synthetic
    embeddings (parity).

    Moments path selection: the exact aggregate-expression pass runs
    for ``dim <= 128`` with no ``sample_fraction`` (the value-gate
    contract at dim=64, deterministic and codegen-friendly); a higher
    dim or an explicit ``sample_fraction`` switches to the mapInPandas
    partial-covariance kernel — d² aggregate expressions at dim 512+
    would generate 10⁵-10⁶ codegen terms (VERDICT r9 item 6), while
    the kernel is one BLAS gemm per Arrow batch and bounds the driver
    collect at stats_partitions × d² doubles regardless of corpus
    size. The rotation is an estimate either way; the codebook always
    trains on the FULL rotated corpus."""
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    sub = dim // m
    if sample_fraction is None and dim <= 128:
        n, mu, mom = _opq_moments_exact(corpus, vec_col, dim)
    else:
        n, mu, mom = _opq_moments_sampled(
            corpus, vec_col, dim,
            1.0 if sample_fraction is None else float(sample_fraction),
            stats_partitions, seed,
        )
    cov = mom / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    # Greedy balanced allocation on log-eigenvalue products (the paper's
    # min-product rule). The textbook greedy breaks when eigenvalues sit
    # below 1 — every log is negative, so the "minimum product" bucket
    # is the one that already swallowed the most spectrum and it keeps
    # winning (a runaway that stuffs the top eigenvectors into ONE
    # subspace — measured on the correlated fixture: ADC recall 0.21
    # vs plain PQ's 0.38; 0.45 with the fix below). Every
    # bucket ends with exactly dim/m items, so the balance objective is
    # invariant to a global shift of the logs: shift them non-negative
    # and the classic least-loaded greedy (LPT) applies at any scale.
    logs = np.log(np.maximum(evals, 1e-12))
    logs = logs - logs.min()
    buckets: list[list[int]] = [[] for _ in range(m)]
    load = [0.0] * m
    for idx in range(dim):  # evals sorted descending, so logs are too
        cands = [b for b in range(m) if len(buckets[b]) < sub]
        b = min(cands, key=lambda b: (load[b], b))
        buckets[b].append(idx)
        load[b] += float(logs[idx])
    perm = [idx for b in range(m) for idx in buckets[b]]
    rotation = evecs[:, perm].T  # row i = eigenvector for output dim i
    rot_list = [[float(x) for x in row] for row in rotation]
    rotated = rotate_embeddings(
        corpus, rot_list, id_col=id_col, vec_col=vec_col
    )
    book = pq_train(
        rotated, m=m, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        dim=dim,
    )
    return rot_list, book


def knn_opq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    rotation: list,
    codebook: DataFrame,
    codes: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """OPQ search = rotate, then the standard PQ ADC + exact-rerank
    pipeline (pq_knn_rerank) in the rotated space. Rotation is
    orthogonal, so rotated L2 distances ARE the original distances (to
    double rounding) and the rerank stays exact; the composition adds
    one narrow map per side and nothing else — same scale posture as
    pq_knn_rerank (codes-table scan + broadcast semi-probe)."""
    rc = rotate_embeddings(corpus, rotation, id_col=id_col, vec_col=vec_col)
    rq = rotate_embeddings(queries, rotation, id_col=id_col, vec_col=vec_col)
    return pq_knn_rerank(
        rc, codes, codebook, rq, k=k, shortlist=shortlist, m=m, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
