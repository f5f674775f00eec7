"""Hashing kernels: cross-engine-stable 64-bit hashes, MinHash/SimHash
building blocks, and the murmur3-seed-0 Kafka partition key.

Why md5 for the dedup/minhash path: Spark's ``hash()``/``xxhash64()`` have no
DuckDB equivalent, so oracle-checked queries hash with ``md5`` (identical in
every engine) and fold the first 15 hex digits into a 60-bit int — stable,
uniform, and entirely JVM-side in Spark (no UDF).

The single custom kernel in the whole engine is ``mmh3_key``: the reference
partitions Kafka launch messages by ``hexlify(pack('<I',
mmh3.hash(netloc, signed=False)))`` (reference enqueue.py:127) — murmur3_32
**seed 0** over the URL authority. Spark's built-in ``hash()`` is murmur3
seed **42** with different byte handling, so parity requires a real
murmur3-32(seed 0). Implemented as an Arrow-batched pandas UDF whose hash
math is columnar NumPy uint32 arithmetic (see _make_mmh3_impl; the
remaining per-row Python is stdlib urlparse for netloc extraction and the
byte-packing loop), with no dependency on the ``mmh3`` C package.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed to resolve pandas_udf type hints
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import StringType


def md5_long(col: Column | str, seed: int = 0) -> Column:
    """Cross-engine-stable 60-bit hash: first 15 hex digits of
    md5(seed || ':' || value) parsed base-16.

    DuckDB equivalent (used in oracle SQL):
        CAST(('0x' || substr(md5(seed || ':' || v), 1, 15)) AS BIGINT)
    Spark side uses conv(hex, 16, 10) → bigint.
    """
    c = F.col(col) if isinstance(col, str) else col
    tagged = F.concat(F.lit(f"{seed}:"), c.cast("string"))
    return F.conv(F.substring(F.md5(tagged), 1, 15), 16, 10).cast("bigint")


def minhash_ab(num_hashes: int) -> "list[tuple[int, int]]":
    """Deterministic universal-hash coefficients (a_k, b_k), identical
    constants inlined into the DuckDB oracle SQL. a_k < 2^20 keeps
    a_k * h31 + b_k < 2^52 — no 64-bit overflow on either engine (and no
    ANSI-mode overflow error in Spark 4)."""
    return [
        ((1000003 * (k + 1)) % 1048573 | 1, (999983 * (k + 1)) % 1048573)
        for k in range(num_hashes)
    ]


def shingle_hashes31(shingles: Column) -> Column:
    """Per-shingle 31-bit base hash: md5 → 60-bit int → mask to 31 bits.
    Alias this to a real column before building signatures — expression
    trees that reference it many times (16 minima) must reference a named
    column, or Catalyst inlines one md5-subtree per use."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
        .cast("bigint")
        .bitwiseAND(F.lit(2147483647)),
    )


def shingle_hashes31_xx(shingles: Column) -> Column:
    """Per-shingle 31-bit base hash via Spark's native ``xxhash64`` —
    the PRODUCTION variant of shingle_hashes31 for operator pipelines
    where no DuckDB oracle has to replay the exact hash values (md5 is
    the cross-engine-parity tax). Measured at sf0.1/32 cores: ~25%
    cheaper on the signature stage (shingle construction dominates, so
    the per-hash saving is diluted); the second win is band_keys_xx's
    fixed-width bigint band key replacing a 32-char hex string through
    the LSH shuffle. Distribution is equally uniform, so every
    banding/skew argument carries over unchanged."""
    return F.transform(
        shingles,
        lambda s: F.xxhash64(s).bitwiseAND(F.lit(2147483647)),
    )


def minhash_from_hashes(base31: Column, num_hashes: int) -> Column:
    """MinHash signature from precomputed 31-bit shingle hashes:
    ``num_hashes`` linear mixes h_k = a_k*h31 + b_k, min over the shingle
    set (Broder's min-wise universal-hash construction). Cheap arithmetic
    over an already-materialized array — one md5 per shingle total.

    At 100 TB this is a narrow map: no shuffle until the LSH band explode.
    """

    def mix(a: int, b: int):
        # closure factory: PySpark infers the HOF lambda arity from the
        # Python signature, so default-arg tricks are off the table.
        return lambda h: h * F.lit(a) + F.lit(b)

    return F.array(
        *[
            F.array_min(F.transform(base31, mix(a, b)))
            for a, b in minhash_ab(num_hashes)
        ]
    )


def band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH band keys: md5 over each band's slice of the signature. Explode
    the result and groupBy/join on (band_index, band_hash) to find candidate
    pairs — the classic banding construction (MMDS ch.3)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(signature, b * rows_per_band + 1, F.lit(rows_per_band)),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash"),
        ),
    )


def band_keys_xx(signature: Column, bands: int, rows_per_band: int) -> Column:
    """PRODUCTION variant of band_keys: xxhash64 band hashes (bigint)
    instead of md5 hex strings — cheaper to compute AND a fixed-width
    8-byte join key instead of a 32-char string through the band shuffle."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                F.array_join(
                    F.transform(
                        F.slice(signature, b * rows_per_band + 1, F.lit(rows_per_band)),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash"),
        ),
    )


def simhash64(tokens: Column, fast: bool = False) -> Column:
    """60-bit SimHash over a token array: bit b of the fingerprint is set
    when the majority of token hashes have bit b set (strictly more ones
    than zeros; ties → 0). Formulated as per-bit majority counts so the
    identical computation is expressible in the DuckDB oracle.

    ``fast=True`` swaps the md5-derived token hash for native xxhash64
    masked to 60 bits — the production path when no oracle has to replay
    exact fingerprints; identical banding/Hamming semantics.

    (Bits 60..63 are always 0 — a 60-bit fingerprint packed in a 64-bit
    long; Hamming comparisons stay valid.)

    The token-hash array is bound once as a lambda variable (single-element
    transform) before the 60 per-bit majority passes — HOF lambdas get no
    common-subexpression elimination, so an inline array expression would
    re-run every token's md5 once per bit (measured 20× slower).
    """
    if fast:
        token_hashes = F.transform(
            tokens,
            lambda t: F.xxhash64(t).bitwiseAND(F.lit((1 << 60) - 1)),
        )
    else:
        token_hashes = F.transform(
            tokens,
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint"),
        )

    def fingerprint_of(th):
        n_tok = F.size(th)

        def bit_contrib(acc, b):
            # 2^b as an exact bigint mask (exact in double up to 2^59).
            mask = F.pow(F.lit(2.0), b.cast("double")).cast("bigint")
            ones = F.size(F.filter(th, lambda h: h.bitwiseAND(mask) != 0))
            return acc + F.when(ones * 2 > n_tok, mask).otherwise(
                F.lit(0).cast("bigint")
            )

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(59)),
            F.lit(0).cast("bigint"),
            bit_contrib,
        )

    return F.element_at(F.transform(F.array(token_hashes), fingerprint_of), 1)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# murmur3-32 seed-0 partition key (the one pandas UDF)
# ---------------------------------------------------------------------------

def _make_mmh3_impl():
    """Factory for the murmur3_32(seed 0) kernel (Appleby's MurmurHash3,
    public domain; matches ``mmh3.hash(x, signed=False)`` for UTF-8 input —
    property-tested against published SMHasher vectors in
    tests/test_hashing.py).

    Genuinely vectorized: keys are packed into one zero-padded uint8 matrix
    viewed as little-endian uint32 blocks, and every mixing round runs as
    whole-column NumPy uint32 arithmetic (wraparound is the dtype's native
    semantics). The only per-key Python is the packing loop (np.frombuffer
    per key — unavoidable for variable-length byte strings); all hash math
    is columnar, so cost per round is O(1) Python ops regardless of batch
    size. Loop trip counts: max_len/4 block rounds — keys are netlocs, so
    a few rounds over the whole batch.

    A factory, not a plain module function, on purpose: the returned
    closure's qualname isn't resolvable as a module attribute, so
    cloudpickle serializes it BY VALUE into UDF closures — executors never
    need ``crawl_streams_spark`` importable on their PYTHONPATH."""

    def mmh3_32(data):
        import numpy as np

        n = len(data)
        if n == 0:
            return []
        lengths = np.fromiter((len(k) for k in data), dtype=np.int64, count=n)
        max_len = int(lengths.max())
        padded = max(((max_len + 3) // 4) * 4, 4)
        buf = np.zeros((n, padded), dtype=np.uint8)
        for i, k in enumerate(data):
            if k:
                buf[i, : len(k)] = np.frombuffer(k, dtype=np.uint8)
        blocks = buf.view("<u4")  # (n, padded//4) little-endian lanes
        n_blocks = lengths // 4

        c1 = np.uint32(0xCC9E2D51)
        c2 = np.uint32(0x1B873593)
        h1 = np.zeros(n, dtype=np.uint32)
        for j in range(blocks.shape[1]):
            active = n_blocks > j
            if not active.any():
                break
            k1 = blocks[:, j] * c1
            k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
            k1 = k1 * c2
            mixed = h1 ^ k1
            mixed = (mixed << np.uint32(13)) | (mixed >> np.uint32(19))
            mixed = mixed * np.uint32(5) + np.uint32(0xE6546B64)
            h1 = np.where(active, mixed, h1)

        # tail: 1-3 trailing bytes, masked columnar xor-shifts
        tail_len = lengths % 4
        tail_start = n_blocks * 4
        idx = np.arange(n)
        k1 = np.zeros(n, dtype=np.uint32)
        m3 = tail_len >= 3
        if m3.any():
            k1[m3] ^= buf[idx[m3], tail_start[m3] + 2].astype(np.uint32) << 16
        m2 = tail_len >= 2
        if m2.any():
            k1[m2] ^= buf[idx[m2], tail_start[m2] + 1].astype(np.uint32) << 8
        m1 = tail_len >= 1
        if m1.any():
            k1[m1] ^= buf[idx[m1], tail_start[m1]].astype(np.uint32)
            k1 = k1 * c1
            k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
            k1 = k1 * c2
            h1 = np.where(m1, h1 ^ k1, h1)

        # finalization (fmix32), columnar
        h1 = h1 ^ lengths.astype(np.uint32)
        h1 = h1 ^ (h1 >> np.uint32(16))
        h1 = h1 * np.uint32(0x85EBCA6B)
        h1 = h1 ^ (h1 >> np.uint32(13))
        h1 = h1 * np.uint32(0xC2B2AE35)
        h1 = h1 ^ (h1 >> np.uint32(16))
        return [int(x) for x in h1]

    return mmh3_32


#: Driver-side instance for direct use in tests and local code.
_mmh3_32_numpy = _make_mmh3_impl()


def make_mmh3_key_udf():
    """Arrow-batched pandas UDF producing the reference's Kafka partition
    key: little-endian hex of murmur3_32(seed 0) over the URL authority
    (reference enqueue.py:127). Kept behind a factory so importing this
    module never requires an active SparkSession; the hash kernel is a
    fresh by-value closure (see _make_mmh3_impl) so executors don't need
    this package importable."""
    from urllib.parse import urlparse

    from pyspark.sql.functions import pandas_udf

    impl = _make_mmh3_impl()

    @pandas_udf(StringType())
    def mmh3_key(uris: pd.Series) -> pd.Series:
        netlocs = uris.fillna("").map(lambda u: urlparse(u).netloc)
        hashes = impl([n.encode("utf-8") for n in netlocs])
        return pd.Series(
            [h.to_bytes(4, "little").hex() for h in hashes], index=uris.index
        )

    return mmh3_key
