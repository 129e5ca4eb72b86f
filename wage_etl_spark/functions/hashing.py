"""Hashing primitives shared by dedup/similarity operators.

Engine-portable determinism: where a query needs a DuckDB oracle, hashes are
derived from md5 (identical in every engine) rather than xxhash64/murmur
(engine-specific). md5's first 8 hex chars -> unsigned 32-bit int gives a
uniform hash usable for minhash/fingerprints in both Spark and ANSI-ish SQL.
Internal-only paths (bucketing) keep the cheaper JVM xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MOD = 1_000_000_007
MUL = 1_000_003


def md5_int(col: Column | str, salt: int | None = None) -> Column:
    """First 8 hex chars of md5 -> bigint in [0, 2^32). Portable to DuckDB as
    ('0x' || substr(md5(x || salt), 1, 8))::BIGINT."""
    c = F.col(col) if isinstance(col, str) else col
    if salt is not None:
        c = F.concat(c, F.lit(f"#{salt}"))
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def rolling_fingerprint(tokens: Column) -> Column:
    """Polynomial rolling hash over a token array:
    h = fold(tokens, 0, (h, t) -> (h * 1000003 + md5_int(t)) % (1e9+7)).

    The reference hashes whole payloads with md5 for cache keys
    (/root/reference/src/extract/cache.py:27-31); this is the order-sensitive
    document-fingerprint generalization. Max intermediate is
    ~1e9*1e6 + 2^32 < 2^63, so the arithmetic never overflows int64 — the
    same bound holds in DuckDB, keeping the oracle bit-identical."""
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda h, t: (h * MUL + F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")) % MOD,
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """Array of `num_hashes` min-hash values over a shingle array. Hash i is
    md5_int(shingle || '#i'); the signature is elementwise-min over shingles.

    Standard MinHash (Broder '97): P[minhash_i(A) == minhash_i(B)] = J(A,B),
    so signature agreement estimates Jaccard similarity."""
    # NB: single-parameter lambdas only — PySpark interprets a 2-arg lambda
    # in transform() as (element, index), which would shadow the salt.
    def _minhash(i: int) -> F.Column:
        return F.array_min(
            F.transform(
                shingles,
                lambda s: F.conv(
                    F.substring(F.md5(F.concat(s, F.lit(f"#{i}"))), 1, 8), 16, 10
                ).cast("long"),
            )
        )

    return F.array(*[_minhash(i) for i in range(num_hashes)])


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash over a token array: per bit b, sum +1/-1 weighted by
    whether bit b of md5_int(token) is set; bit b of the result is 1 iff the
    sum is positive. Near-duplicates have small Hamming distance
    (Charikar '02 / Manku et al. WWW'07)."""
    # 15 hex chars = 60 bits: stays inside int64 (16 chars can overflow the
    # ANSI cast); we only read the low 63 bit positions anyway
    th = F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    )

    def _bit(b: int) -> F.Column:
        vote = F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << b)) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )
        return F.when(vote > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))

    bits = [_bit(b) for b in range(60)]  # 60 useful bits, sign bit clear
    out = F.lit(0).cast("long")
    for b in bits:
        out = out.bitwiseOR(b)
    return out


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
