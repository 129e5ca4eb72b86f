"""Collision-free bucket partitioning.

``df.repartition(n, cols)`` places a row in partition
``pmod(murmur3(cols), n)``. When the partitioning column is a bucket id that
takes exactly ``n`` distinct values (the MERGE and fused-apply shuffles),
that hash assignment is a balls-into-bins throw: ~1/e of the ``n`` reducers
receive NO bucket and others receive 2-3, so the stage runs at ~60% of the
requested parallelism with 2-3x straggler tasks — measured on a 32-core box
as ~2x the stage wall (32 combos -> 18 used partitions, max 3 per slot).

Fix: map bucket ``i`` to a pre-searched TOKEN whose Murmur3 hash lands in
partition ``i`` exactly, and repartition on the token column. Every reducer
gets exactly one bucket; the stage parallelism equals the bucket count by
construction. Window/LWW logic downstream partitions by the token column
(a bijection of the bucket id), so Catalyst still satisfies the clustered
distribution from the single exchange — no second shuffle.

The token search runs driver-side in pure Python against a reimplementation
of Spark's Murmur3 (seed 42, int32 input — Catalyst's ``Murmur3Hash`` /
``F.hash`` on an INT column), verified against ``F.hash`` in
tests/test_plans.py. Expected search cost is n·ln(n) hash evaluations
(coupon collector) — microseconds for realistic bucket counts.

Width: one reducer per combo is one task per bucket, and a small shuffle
then pays the per-task fixed cost (~40 ms of deserialization per task,
measured under ``local[4]`` on a 4-core VM) in several waves. ``shuffle_width`` sizes the reducer count R from
the optimizer's size estimate of the shuffle input, and combo i goes to
reducer ``i mod R`` — still exactly, so each combo (and each key) meets in
one reducer and a ``partitionBy`` write stays bucket-pure.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

_MASK = 0xFFFFFFFF


def murmur3_int32(value: int, seed: int = 42) -> int:
    """Spark-compatible Murmur3_x86_32 of one int32 (Catalyst hashes an INT
    column as its 4 little-endian bytes in a single block). Returns a SIGNED
    32-bit int, matching ``F.hash(int32_col)``."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = value & _MASK
    k = (k * c1) & _MASK
    k = ((k << 15) | (k >> 17)) & _MASK
    k = (k * c2) & _MASK
    h = seed & _MASK
    h ^= k
    h = ((h << 13) | (h >> 19)) & _MASK
    h = (h * 5 + 0xE6546B64) & _MASK
    h ^= 4  # total byte length
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _MASK
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _MASK
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


@lru_cache(maxsize=64)
def slot_tokens(n: int) -> tuple[int, ...]:
    """For each partition slot s in [0, n): the smallest non-negative int32
    token with ``pmod(murmur3(token), n) == s``. Deterministic; independent
    of any Spark session."""
    tokens: dict[int, int] = {}
    cand = 0
    while len(tokens) < n:
        s = murmur3_int32(cand) % n  # pmod: murmur3 result sign-safe via %
        if s not in tokens:
            tokens[s] = cand
        cand += 1
    return tuple(tokens[s] for s in range(n))


def exact_partition_column(combo: Column, n: int) -> Column:
    """Column mapping a combo index in [0, n) to its slot token (int32)."""
    toks = slot_tokens(n)
    arr = F.array(*[F.lit(t).cast("int") for t in toks])
    return F.element_at(arr, combo.cast("int") + 1)


def repartition_exact(
    df: DataFrame, combo: Column, n: int, token_col: str = "_pt"
) -> DataFrame:
    """Repartition so that combo index i lands in partition i exactly.

    ``combo`` must take values in [0, n). Adds ``token_col`` (callers window
    over it instead of the raw bucket id — same grouping, since the token is
    a bijection of the combo — and drop it before writing)."""
    return df.withColumn(token_col, exact_partition_column(combo, n)).repartition(
        n, token_col
    )


def salt_ways(spark: SparkSession, num_buckets: int) -> int:
    """Reducers per bucket at full width, so a shuffle over every bucket
    can fill the session's cores. The salt splitting a bucket is a hash OF
    THE KEY, so each key's rows still meet in one partition."""
    return max(1, min(8, spark.sparkContext.defaultParallelism // num_buckets))


def shuffle_width(df: DataFrame, n_combos: int) -> int:
    """Reducer count R for an exact shuffle of ``df`` over ``n_combos``
    combos: R = min(n_combos, max(P, ceil(est / advisory))), with P the
    session's ``defaultParallelism``, est the optimizer's ``sizeInBytes``
    for ``df`` (plan statistics: no Spark job) and advisory
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. Callers fold combo
    i onto reducer ``i mod R``.

    A leaf with no size (``createDataFrame`` of Python rows) reports
    Long.MaxValue, which keeps R at ``n_combos``: the full width is the safe
    choice when the input's size is unknown."""
    spark = df.sparkSession
    est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    advisory = int(
        spark._jsparkSession.sessionState().conf().getConf(
            sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
        )
    )
    by_size = -(-est // advisory)
    return max(1, min(n_combos, max(spark.sparkContext.defaultParallelism, by_size)))


_WIDEN_UNSAFE = (
    "Join", "Aggregate", "Window", "Repartition", "Sort", "Limit",
    "MapInPandas", "MapInArrow", "Deduplicate", "Generate",
)


def widen_if_narrow(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Scale-adaptive scan widening (optimization guide §2.2/§6): a tiny
    input arrives as ONE parquet split, which serializes every
    expression-heavy narrow stage built on it (md5/minhash/shingle/vector
    math) onto a single core while the other N-1 idle. Round-robin
    repartition to the session's default parallelism ONLY when the input is
    narrower than that — at production scale inputs already carry >= cores
    splits and this is a no-op (no shuffle added), so the decision is sized
    by the data, not tuned to local mode.

    Safe on arbitrary inputs: probing partition count via ``df.rdd`` on a
    plan containing exchanges executes its AQE query stages (measured — it
    runs the shuffles), so any plan whose analyzed tree contains a
    shuffle-introducing or opaque node (join/aggregate/window/sort/
    repartition/limit/python-map) is returned unchanged — those plans get
    their parallelism from shuffle partitioning already."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        if any(tok in plan for tok in _WIDEN_UNSAFE):
            return df
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if 0 < n < target:
        return df.repartition(target)
    return df
