"""Reusable dedup operators over arbitrary document DataFrames — the
generalized form of the plans/q_dedup.py oracle queries (north-star
extension family). All return DataFrames; nothing collects.

Scale design (100 TB):
- exact: one hash-shuffle on a fixed-width digest; with the digest as a
  bucketing/partition column upstream the shuffle disappears entirely.
- minhash-lsh: narrow map (signatures) → explode bands (×B) → self-join on
  (band, band_hash). Keys are md5-uniform, so no skew salting is needed;
  candidate verification touches only colliding pairs.
- simhash: fingerprints join on rotated prefix buckets (each near-dup pair
  within Hamming distance d shares at least one of d+1 disjoint bit-blocks
  — block-permuted banding), avoiding the O(n²) Hamming scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions import hashing as H
from ..functions import text as T
from .iterate import fixed_point, pin, unpin


def _hash_fns(hash_impl: str):
    """(per-shingle 31-bit hash, band-key builder) for an operator run.

    ``xxhash64`` (default) is the production path: native JVM hashing
    (measured ~25% cheaper on the signature stage at sf0.1 — shingle
    construction dominates) and a fixed-width bigint band key through
    the LSH shuffle instead of a 32-char hex string. ``md5`` reproduces
    the oracle-certified queries' cross-engine-stable values
    (plans/q_dedup.py) — use it when results must hash-match a DuckDB
    replay."""
    if hash_impl == "xxhash64":
        return H.shingle_hashes31_xx, H.band_keys_xx
    if hash_impl == "md5":
        return H.shingle_hashes31, H.band_keys
    raise ValueError(f"unknown hash_impl {hash_impl!r} (xxhash64|md5)")


def dedup_exact(
    df: DataFrame, content: str = "text", key: str = "doc_id"
) -> DataFrame:
    """Keep one representative row (lowest key) per exact content match.
    The crawl-stream analog keys on content_digest (reference
    analysis.py:47 schema note) — pass content='content_digest'."""
    keep = (
        df.select(F.md5(F.col(content)).alias("__digest"), F.col(key))
        .groupBy("__digest")
        .agg(F.min(key).alias(key))
    )
    return df.join(keep, key, "left_semi")


def estimate_band_pairs(
    bandsdf: DataFrame,
    band_cols: tuple = ("band", "band_hash"),
    sample_fraction: float = 0.1,
    seed: int = 7,
    presampled: bool = False,
) -> float:
    """Estimated LSH candidate-pair count Σ m·(m−1)/2 over band buckets,
    from a seeded Bernoulli sample: a pair survives sampling with
    probability p², so the sampled pair count scales back by 1/p². Only
    the quadratic-blowup regime matters — huge buckets dominate the sum
    and are sampled accurately; small-bucket noise cannot flip a
    broadcast decision by orders of magnitude.

    NOTE (ADVICE r4): calling this runs a Spark job NOW — callers using
    it to pick a join strategy become eager at plan-construction time.
    And if ``bandsdf`` is the full banding pipeline, sampling HERE sits
    above tokenize/shingle/minhash/band, so signature computation still
    runs for every row and only the final aggregation is sampled. The
    cheap form is to Bernoulli-sample DOC IDS upstream of signature
    computation and pass ``presampled=True`` (the doc-sample also keeps
    pair survival at p², since a pair collides iff both docs survive) —
    ``minhash_lsh_candidates`` does exactly that."""
    sampled = (
        bandsdf
        if presampled
        else bandsdf.sample(fraction=sample_fraction, seed=seed)
    )
    row = (
        sampled.groupBy(*band_cols)
        .agg(F.count(F.lit(1)).alias("__m"))
        .agg(
            F.sum(F.col("__m") * (F.col("__m") - 1) / 2).alias("__pairs")
        )
        .first()
    )
    est = float(row["__pairs"] or 0.0)
    return est / (sample_fraction**2)


def _lsh_pipeline(
    content: str,
    key: str,
    num_hashes: int,
    bands: int,
    shingle_words: int,
    hash_impl: str,
):
    """(shingled, banded) DataFrame builders — the ONE definition of the
    tokenize → shingle → minhash → band pipeline, shared by the
    candidate join, the sampled pair estimate, and the oracle-gated
    query (plans/q_dedup.py reuses these instead of re-implementing the
    recipe, so a banding change cannot silently diverge between the
    operator's broadcast decision and the query's)."""
    rows_per_band = num_hashes // bands
    base31, bkeys = _hash_fns(hash_impl)

    def shingled(src: DataFrame) -> DataFrame:
        # tokens staged through a named column: shingles_from_tokens
        # references them twice, and HOFs get no subexpression
        # elimination (ROUNDLOG lesson 1)
        return src.select(
            F.col(key), T.tokens(F.col(content)).alias("__toks")
        ).select(
            F.col(key),
            T.shingles_from_tokens(
                F.col("__toks"), shingle_words
            ).alias("shingles"),
        )

    def banded(shdf: DataFrame) -> DataFrame:
        return (
            shdf.select(key, base31(F.col("shingles")).alias("h31"))
            .select(
                key,
                H.minhash_from_hashes(F.col("h31"), num_hashes).alias("sig"),
            )
            .select(
                key,
                F.explode(
                    bkeys(F.col("sig"), bands, rows_per_band)
                ).alias("bk"),
            )
            .select(
                key,
                F.col("bk.band").alias("band"),
                F.col("bk.band_hash").alias("band_hash"),
            )
        )

    return shingled, banded


def estimate_lsh_candidates(
    df: DataFrame,
    content: str = "text",
    key: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_words: int = 3,
    hash_impl: str = "xxhash64",
    fraction: float = 0.1,
    seed: int = 7,
) -> float:
    """Estimated LSH candidate-pair count for a corpus, from a doc
    sample taken UPSTREAM of signature computation (ADVICE r4): the
    sizing job shingles/minhashes only ~``fraction`` of the corpus, and
    pair survival stays p² (a band collision survives iff both docs do),
    so ``estimate_band_pairs``'s 1/p² scale-back is unchanged. NOTE:
    runs a Spark job NOW."""
    shingled, banded = _lsh_pipeline(
        content, key, num_hashes, bands, shingle_words, hash_impl
    )
    return estimate_band_pairs(
        banded(shingled(df.sample(fraction=fraction, seed=seed))),
        sample_fraction=fraction,
        presampled=True,
    )


def minhash_lsh_candidates(
    df: DataFrame,
    content: str = "text",
    key: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_words: int = 3,
    hash_impl: str = "xxhash64",
    verify_join: str = "auto",
    max_broadcast_pairs: int = 4_000_000,
) -> DataFrame:
    """Candidate near-dup pairs (key_a < key_b) via MinHash banding.
    Returns (key_a, key_b, jaccard) with the TRUE shingle Jaccard computed
    only for colliding pairs. ``hash_impl`` picks the base hash — native
    xxhash64 by default, md5 for oracle-replayable values (_hash_fns).

    Shuffle discipline (the 100 TB path): the band self-join carries ONLY
    (key, band, band_hash) — a few dozen bytes per exploded row. Shingle
    arrays never ride the ×`bands` explode or the self-join exchange; they
    rejoin by key for the (vanishingly small) deduplicated candidate set,
    with the candidate side broadcast so the full-corpus shingle relation
    never shuffles. Carrying the arrays through the band join instead
    multiplies shuffle volume by the document size — measured 2.5× slower
    at sf0.1 and fatal at 100 TB (same restructure as plans/q_dedup.py's
    dedup_minhash_lsh_pairs).

    ``verify_join`` guards the candidate-pair broadcast (VERDICT r3): the
    LSH contract bounds |pairs| for real corpora, but a pathologically
    duplicated corpus (every doc identical) makes |pairs| quadratic and
    an unconditional broadcast unbounded. ``"auto"`` (default) estimates
    the pair count by running the banding pipeline over a ~10% DOC
    sample (``estimate_band_pairs`` with ``presampled=True`` — the
    sample is taken upstream of shingling, so signature computation for
    the estimate touches only the sample) and falls back to a shuffled
    pair join above ``max_broadcast_pairs``. NOTE: auto mode makes this
    call EAGER — the estimate is a Spark job that runs during plan
    construction, before the returned DataFrame is ever acted on. Pass
    ``"broadcast"`` / ``"shuffle"`` to force a strategy and stay fully
    lazy. Values are identical under every strategy — only the exchange
    shape differs."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "a floored rows_per_band would silently drop trailing signature "
            "hashes and weaken recall"
        )
    _shingled, _banded = _lsh_pipeline(
        content, key, num_hashes, bands, shingle_words, hash_impl
    )
    # r13 note (measured, not changed): sh is consumed by the banding
    # self-join and both verify sides; a localCheckpoint pin here was
    # tried and REJECTED — interleaved A/B at sf0.1 was neutral (min
    # 1.94 → 1.88 s, median worse) and at scale it would materialize a
    # corpus-sized shingle-array relation to executor storage to save
    # re-running a cheap narrow md5 chain — the same trade the
    # arrays-through-exchange variant lost 2.5× (docstring above). The
    # band self-join already shares one exchange via the merge hints.
    sh = _shingled(df)
    bandsdf = _banded(sh)
    # merge-hint both sides: identical subtrees shuffle on the same keys and
    # the runtime reuses one exchange, so the signature pipeline runs once.
    a, b = bandsdf.alias("a").hint("merge"), bandsdf.alias("b").hint("merge")
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (ka < kb),
        )
        .select(ka.alias("key_a"), kb.alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    sa = sh.select(F.col(key).alias("key_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(key).alias("key_b"), F.col("shingles").alias("sh_b"))
    if verify_join == "auto":
        use_broadcast = (
            estimate_lsh_candidates(
                df, content, key, num_hashes, bands, shingle_words,
                hash_impl,
            )
            <= max_broadcast_pairs
        )
    else:
        use_broadcast = verify_join == "broadcast"
    if use_broadcast:
        # Broadcast ONLY the slim pair-key relation (two ids per candidate —
        # bounded and small by the LSH contract). Broadcasting the
        # pairs-joined-with-shingles relation instead is unbounded
        # (|pairs| × document shingle arrays) and can blow past Spark's 8 GB
        # broadcast hard limit at scale. Each corpus-scale side reduces to
        # candidate-bounded rows via a broadcast (semi-)join first, so the
        # final pair join exchanges only candidate rows — never the corpus.
        half = sa.join(F.broadcast(pairs), "key_a")
        sb_cand = sb.join(
            F.broadcast(pairs.select("key_b").dropDuplicates()),
            "key_b",
            "left_semi",
        )
        verified = half.join(sb_cand, "key_b")
    else:
        # shuffled fallback for quadratic candidate sets: the shingle
        # relations exchange on the pair keys — more shuffle volume, but
        # bounded memory and no driver-side broadcast of an unbounded
        # pair relation
        half = sa.join(pairs, "key_a")
        verified = half.join(sb, "key_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return verified.select("key_a", "key_b", (inter / union).alias("jaccard"))


def minhash_lsh_candidates_collapsed(
    df: DataFrame,
    content: str = "text",
    key: str = "doc_id",
    **lsh_kw,
) -> DataFrame:
    """Degenerate-corpus scale path for the LSH candidate join (VERDICT
    r6 item 4): collapse EXACT duplicates to one representative per
    content digest before banding, so d identical copies contribute d-1
    linear star edges instead of d(d-1)/2 quadratic band collisions —
    the blowup no join strategy can absorb, because it is real output,
    not skew.

    Returns (key_a, key_b, jaccard): LSH pairs among the digest
    representatives, UNION (rep, member) star edges at jaccard 1.0 for
    multi-doc digest groups. The pair SET differs from the uncollapsed
    operator's, but its TRANSITIVE CLOSURE at any threshold is identical
    (an exact copy shares its representative's shingle set, so every
    uncollapsed pair is recovered through rep edges; star edges carry
    jaccard 1.0 and survive every threshold) — cluster_duplicates over
    either pair set yields the same components, pinned by
    tests/test_extensions2.py. Use this form whenever the corpus may
    carry heavy exact duplication (web crawls: boilerplate mirrors,
    CDN copies); the exact-collapse groupBy is digest-keyed and
    uniform, and reps flow through the standard LSH pipeline unchanged.

    Plan shape: the digest aggregate subtree is referenced by the star
    edges, the rep semi-join, and (transitively) the LSH pipeline; each
    reference ends in the same shuffle, so the runtime collapses them
    with ReusedExchange — the corpus text is scanned a bounded handful
    of times (column-pruned to (key, content)), the same reuse contract
    the plain operator's merge-hinted band join relies on.
    """
    # r13: the slim (key, digest) relation — no text — is materialized
    # once; groups, the membership join and (transitively) the rep
    # semi-join each referenced it and re-scanned the corpus otherwise.
    digests = df.select(
        F.col(key), F.md5(F.col(content)).alias("__digest")
    ).localCheckpoint(eager=False)
    groups = digests.groupBy("__digest").agg(F.min(key).alias("__rep"))
    membership = digests.join(groups, "__digest")
    star = membership.filter(F.col(key) != F.col("__rep")).select(
        F.col("__rep").alias("key_a"),
        F.col(key).alias("key_b"),
        F.lit(1.0).alias("jaccard"),
    )
    reps = df.join(
        groups.select(F.col("__rep").alias(key)), key, "left_semi"
    )
    rep_pairs = minhash_lsh_candidates(reps, content, key, **lsh_kw)
    return rep_pairs.unionByName(star)


def minhash_dedup(
    df: DataFrame,
    content: str = "text",
    key: str = "doc_id",
    threshold: float = 0.8,
    **lsh_kw,
) -> DataFrame:
    """Drop near-duplicates: among each connected candidate pair above the
    threshold, the higher key loses (single-pass victim set — the standard
    greedy approximation; full transitive clustering would need iterative
    connected components, deliberately out of the one-pass path)."""
    losers = (
        minhash_lsh_candidates(df, content, key, **lsh_kw)
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("key_b").alias(key))
        .distinct()
    )
    return df.join(losers, key, "left_anti")


def cluster_duplicates(
    pairs: DataFrame,
    key_a: str = "key_a",
    key_b: str = "key_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    on_nonconverge: str = "raise",
) -> DataFrame:
    """Transitive duplicate clustering: connected components over the
    candidate-pair graph by iterative min-label propagation (the
    DataFrame-only form of the alternating-star CC algorithm). Returns
    (key, cluster) where cluster = min key of the component — pick
    key == cluster as the representative to keep.

    Each iteration does a neighbor-min propagation AND a pointer-jump
    (relabel through the label's own label). Along a path whose keys
    fall toward the minimum the label spreads exponentially; a minimum
    key hanging off a path whose keys lead elsewhere still moves one hop
    per round, so such a component needs about its diameter in rounds
    and raises at `max_iter` instead of truncating.
    The loop is ``iterate.fixed_point``: every round carries each key's
    previous label beside the new one, so "did any label move" is a
    per-row flag read from the pinned round without a shuffle, and it is
    exact for every key type (integral, fractional, decimal, string).
    Superseded rounds and the edge pin are released before returning;
    only the returned frame holds storage."""
    edges = (
        pairs.select(F.col(key_a).alias("a"), F.col(key_b).alias("b"))
        .union(pairs.select(F.col(key_b).alias("a"), F.col(key_a).alias("b")))
        .distinct()
    )
    # materialize the edge relation once: every iteration joins against it,
    # and without the checkpoint each round re-evaluates the full upstream
    # pair pipeline (for LSH pairs that is the whole signature+band+verify
    # DAG — measured 13.6 s → 7.6 s at sf0.1 for dedup_cluster_assignment;
    # the remainder is per-round job overhead, not recomputation)
    edges = pin(edges, checkpoint_dir)
    # start: every node labeled with min(itself, neighbors)
    labels = (
        edges.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("cluster"))
        .select(F.col("a").alias("key"), "cluster")
    )

    def _step(cur: DataFrame) -> DataFrame:
        cur = cur.select("key", "cluster", F.col("cluster").alias("own"))
        # 1) propagate: node takes min(own label, neighbors' labels); the
        # key set is constant (cur is unioned back in), so `own` — the
        # previous label — is never NULL
        neigh = edges.join(cur, edges.b == cur.key).select(
            F.col("a").alias("key"),
            F.col("cluster"),
            F.lit(None).cast(cur.schema["own"].dataType).alias("own"),
        )
        prop = (
            cur.union(neigh)
            .groupBy("key")
            .agg(F.min("cluster").alias("cluster"), F.min("own").alias("own"))
        )
        # 2) pointer-jump: relabel through the cluster's own label. The
        # lookup side is RENAMED, not alias()-ed: the alias self-join's
        # attribute dedup over the self-referential union inside `prop`
        # trips Catalyst's UnionBase.rewriteConstraints on some inputs
        # (NoSuchElementException during the checkpoint's analysis —
        # surfaced by the collapsed-LSH pair shape, round 7); renamed
        # columns keep every expression id distinct by construction.
        j = prop.select(
            F.col("key").alias("__jkey"), F.col("cluster").alias("__jcluster")
        )
        jumped = F.least(
            F.col("cluster"), F.coalesce(F.col("__jcluster"), F.col("cluster"))
        )
        return prop.join(
            j, F.col("cluster") == F.col("__jkey"), "left"
        ).select(
            F.col("key"),
            jumped.alias("cluster"),
            (jumped != F.col("own")).alias("moved"),
        )

    try:
        labels = fixed_point(
            labels,
            _step,
            "cluster_duplicates",
            max_iter,
            checkpoint_dir,
            on_nonconverge,
        )
    finally:
        unpin(edges)
    return labels.select("key", "cluster")


def minhash_dedup_transitive(
    df: DataFrame,
    content: str = "text",
    key: str = "doc_id",
    threshold: float = 0.8,
    **lsh_kw,
) -> DataFrame:
    """Full transitive MinHash dedup: LSH candidates → threshold → connected
    components → keep only each component's min-key representative.
    Strictly stronger than minhash_dedup's single-pass victim rule (chains
    A~B~C keep exactly A, even when A~C was never a candidate pair)."""
    pairs = minhash_lsh_candidates(df, content, key, **lsh_kw).filter(
        F.col("jaccard") >= threshold
    )
    clusters = cluster_duplicates(pairs)
    losers = clusters.filter(F.col("key") != F.col("cluster")).select(
        F.col("key").alias(key)
    )
    return df.join(losers, key, "left_anti")


def simhash_fingerprints(
    df: DataFrame,
    content: str = "text",
    key: str = "doc_id",
    hash_impl: str = "xxhash64",
) -> DataFrame:
    """(key, simhash) — 60-bit token-majority fingerprints. Native
    xxhash64 token hashes by default; md5 for oracle-replayable values
    (the certified query plans/q_dedup.py::dedup_simhash uses md5)."""
    return df.select(
        F.col(key),
        H.simhash64(
            T.tokens(F.col(content)), fast=hash_impl == "xxhash64"
        ).alias("simhash"),
    )


def simhash_candidates(
    fps: DataFrame, key: str = "doc_id", max_hamming: int = 3, blocks: int = 4
) -> DataFrame:
    """Near-dup pairs within `max_hamming` bits via block banding: split the
    60-bit fingerprint into `blocks` 15-bit blocks; any pair within
    Hamming distance `blocks-1` shares ≥1 exact block (pigeonhole), so an
    equi-join per block finds all of them — no quadratic scan.
    Requires max_hamming < blocks."""
    assert max_hamming < blocks, "need max_hamming < blocks for completeness"
    width = 60 // blocks
    mask = (1 << width) - 1

    block_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("blk_val"),
            )
            for i in range(blocks)
        ]
    )
    e = fps.select(key, "simhash", F.explode(block_arr).alias("b")).select(
        key, "simhash", F.col("b.blk").alias("blk"), F.col("b.blk_val").alias("blk_val")
    )
    a, b = e.alias("a"), e.alias("b")
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (ka < kb),
        )
        .select(
            ka.alias("key_a"),
            kb.alias("key_b"),
            H.hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .dropDuplicates(["key_a", "key_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def estimated_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash-estimated Jaccard: the fraction of agreeing signature
    components (an unbiased estimator of the true shingle Jaccard —
    Broder). Lets cross-batch near-dup checks verify candidates from a
    slim signature index without storing or re-reading document text."""
    agreeing = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return agreeing.cast("double") / F.size(sig_a).cast("double")


def _existing_index(spark, index_path: str):
    """Read a persistent dedup index, or None when it doesn't exist yet —
    storage-agnostic (fs.parquet_if_exists): ``os.path.exists`` sees only
    the driver's local filesystem and silently reported HDFS/S3 index
    paths as absent, disabling cross-batch dedup every batch (ADVICE r2)."""
    from ..fs import parquet_if_exists

    return parquet_if_exists(spark, index_path)


def _foreign_index_rows(index: DataFrame, batch_id: str | int | None) -> DataFrame:
    """Index rows written by OTHER batches: excludes rows stamped with this
    batch's own id so a crash-and-replay recomputes against exactly the
    view the failed attempt saw (its own half-written rows are invisible).
    ``batch_id`` is a partition column, so the exclusion prunes the current
    batch's files for free. Indexes written before batch stamping existed
    (no ``batch_id`` column) are treated as entirely foreign."""
    if batch_id is None or "batch_id" not in index.columns:
        return index
    return index.filter(F.col("batch_id").cast("string") != str(batch_id))


def _write_index_rows(rows: DataFrame, index_path: str, batch_id: str | int | None):
    """Persist admitted index rows, idempotently under replay when a
    ``batch_id`` is supplied: rows are stamped and partitioned by batch id
    and written with dynamic partition overwrite, so a replayed batch
    rewrites exactly its own partition with identical content instead of
    appending a second copy. Without a batch id the write is a plain
    append (no replay protection — ad-hoc/one-shot use only)."""
    stamped = rows.withColumn(
        "batch_id",
        F.lit("__adhoc__" if batch_id is None else str(batch_id)),
    )
    writer = stamped.write.partitionBy("batch_id")
    if batch_id is None:
        writer.mode("append").parquet(index_path)
    else:
        writer.option("partitionOverwriteMode", "dynamic").mode(
            "overwrite"
        ).parquet(index_path)


def incremental_minhash_dedup(
    spark,
    new_docs: DataFrame,
    index_path: str,
    content: str = "text",
    key: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_words: int = 3,
    hash_impl: str = "xxhash64",
    batch_id: str | int | None = None,
) -> DataFrame:
    """Cross-batch NEAR-duplicate admission — the MinHash analog of
    incremental_exact_dedup for the daily-ingest pipeline: a batch document
    is rejected if it is a near-dup (signature-estimated Jaccard ≥
    `threshold`) of anything already admitted, or of a lower-keyed
    near-dup within its own batch; survivors' signatures join the index.

      batch → signatures + band keys (narrow maps)
            → in-batch LSH self-join (slim keys) → estimated-Jaccard
              victim set
            → cross-batch: batch bands ⋈ index bands on (band, band_hash)
              → estimated Jaccard vs admitted signatures → reject matches
            → write survivors' (key, sig, band, band_hash) to the index
            → return admitted rows

    Scale posture: the index stores the exploded band table
    (key, band, band_hash, sig) — ≈ bands × (40 B + 8·num_hashes B) per
    admitted doc, orders smaller than text; both joins key on md5-uniform
    band hashes (no skew); verification touches only colliding pairs and
    uses the signature estimate, so document text never re-enters the
    pipeline after the first narrow map.

    Replay contract: pass a ``batch_id`` that is UNIQUE per logical batch
    and STABLE across retries (Structured Streaming's foreachBatch id, a
    date partition, a source-file digest). The index write then stamps and
    partitions rows by batch id with dynamic partition overwrite, and the
    cross-batch check ignores rows stamped with the CURRENT id — so a
    crash between the index write and the caller's output write replays to
    the identical admitted set instead of colliding with its own
    just-indexed signatures (which would estimate Jaccard 1.0 and silently
    drop the whole batch from the output while keeping it in the index).
    Reusing one id for two different batches overwrites the first batch's
    index rows — ids must never be recycled. With ``batch_id=None`` the
    write degrades to a plain append with NO replay protection.

    The estimator's resolution is 1/num_hashes (16 hashes → 0.0625 steps);
    pick num_hashes so `threshold` sits between steps, or raise it for
    finer thresholds. ``hash_impl`` must stay constant for the lifetime of
    an index — signatures from different hashes never collide, so
    switching silently re-admits everything.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    base31, bkeys = _hash_fns(hash_impl)

    sh = new_docs.select(
        F.col(key), T.word_shingles(F.col(content), shingle_words).alias("shingles")
    )
    sigs = (
        sh.select(key, base31(F.col("shingles")).alias("h31"))
        .select(key, H.minhash_from_hashes(F.col("h31"), num_hashes).alias("sig"))
    )
    banded = sigs.select(
        key,
        "sig",
        F.explode(bkeys(F.col("sig"), bands, rows_per_band)).alias("bk"),
    ).select(
        key,
        "sig",
        F.col("bk.band").alias("band"),
        F.col("bk.band_hash").alias("band_hash"),
    )
    # computed twice below (in-batch join + index ops) — materialize once
    banded = banded.localCheckpoint(eager=True)

    # in-batch: slim band self-join, estimated-Jaccard verify, higher key
    # of each confirmed pair loses
    slim = banded.select(key, "band", "band_hash")
    a, b = slim.alias("a"), slim.alias("b")
    ka, kb = F.col(f"a.{key}"), F.col(f"b.{key}")
    batch_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (ka < kb),
        )
        .select(ka.alias("key_a"), kb.alias("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    sig_tbl = banded.select(key, "sig").dropDuplicates([key])
    sa = sig_tbl.select(F.col(key).alias("key_a"), F.col("sig").alias("sig_a"))
    sb = sig_tbl.select(F.col(key).alias("key_b"), F.col("sig").alias("sig_b"))
    batch_losers = (
        batch_pairs.join(sa, "key_a")
        .join(sb, "key_b")
        .filter(estimated_jaccard(F.col("sig_a"), F.col("sig_b")) >= threshold)
        .select(F.col("key_b").alias(key))
        .distinct()
    )

    # cross-batch: collide batch bands with the admitted index
    index = _existing_index(spark, index_path)
    if index is not None:
        index = _foreign_index_rows(index, batch_id)
        hits = (
            slim.join(
                index.select(
                    "band",
                    "band_hash",
                    F.col("sig").alias("sig_idx"),
                ),
                ["band", "band_hash"],
            )
            .dropDuplicates([key, "sig_idx"])
            .join(sig_tbl, key)
            .filter(
                estimated_jaccard(F.col("sig"), F.col("sig_idx")) >= threshold
            )
            .select(key)
            .distinct()
        )
        rejected = batch_losers.union(hits).distinct()
    else:
        rejected = batch_losers
    admitted_keys = (
        sig_tbl.select(key).join(rejected, key, "left_anti")
    ).localCheckpoint(eager=True)

    _write_index_rows(
        banded.join(admitted_keys, key, "left_semi").select(
            key, "band", "band_hash", "sig"
        ),
        index_path,
        batch_id,
    )
    # banded's last consumer is the index write above; the returned plan
    # references only admitted_keys (whose pin the caller releases after
    # its output write — ADVICE r6 storage-memory discipline)
    unpin(banded)
    return new_docs.join(admitted_keys, key, "left_semi")


def incremental_exact_dedup(
    spark,
    new_docs: DataFrame,
    index_path: str,
    content: str = "text",
    key: str = "doc_id",
    batch_id: str | int | None = None,
) -> DataFrame:
    """Cross-batch exact dedup against a persistent digest index — the
    daily-ingest pattern: each batch is deduplicated within itself AND
    against everything ever admitted, without rescanning the corpus.

      batch → digest → in-batch keep (min key per digest)
            → left-anti join vs the index parquet (novel digests only)
            → write novel digests to the index
            → return the novel rows

    Returns the admitted (novel) rows; the index at ``index_path`` grows
    by exactly the admitted digests (one row per digest, with the admitted
    key as provenance, stamped with the writing ``batch_id``).

    Scale posture: the index stores ONLY (digest, key) — ~50 B/doc, three
    orders smaller than the corpus; the anti-join shuffles on the
    md5-uniform digest so it is balanced by construction. Per-batch writes
    create one partition per batch — run ``layout.compact_parquet`` on the
    index as maintenance, or bucket it by digest prefix to make the join
    co-located.

    Replay contract (same as incremental_minhash_dedup): pass a
    ``batch_id`` unique per logical batch and stable across retries. The
    anti-join then ignores index rows stamped with the CURRENT id and the
    index write dynamically overwrites only this batch's partition, so a
    crash between the index write and the caller's output write replays to
    the identical admitted set — without it, the replayed batch anti-joins
    against its own just-indexed digests, admits nothing, and is silently
    lost from the output while staying in the index. Never recycle an id
    across different batches. ``batch_id=None`` appends with no replay
    protection (ad-hoc use only).
    """
    digests = new_docs.select(
        F.md5(F.col(content)).alias("__digest"), F.col(key)
    )
    batch_keep = digests.groupBy("__digest").agg(F.min(key).alias(key))
    index = _existing_index(spark, index_path)
    if index is not None:
        foreign = _foreign_index_rows(index, batch_id).select("__digest")
        novel = batch_keep.join(foreign, "__digest", "left_anti")
    else:
        novel = batch_keep
    # the novel set is used twice (index write + admitted-row semi-join);
    # materialize once so the anti-join doesn't run twice
    novel = novel.localCheckpoint(eager=True)
    _write_index_rows(novel, index_path, batch_id)
    return new_docs.join(novel.select(F.col(key)), key, "left_semi")
