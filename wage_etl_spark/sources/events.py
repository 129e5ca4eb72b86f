"""Epoch-batched change-event sources.

The reference consumed a lazy generator of per-county results
(/root/reference/src/extract/extract_ops.py:55-62); here the unbounded stream
is consumed in commit-epoch batches — each epoch is one exactly-once unit.

An EpochSource yields, per epoch, a DataFrame *with that epoch's schema*:
columns that are entirely absent (all-null) in an epoch are dropped, so a
later epoch genuinely "adds" a column and exercises schema-merge-on-write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# columns that may appear mid-stream (schema-evolution candidates)
EVOLVABLE = ("lang_version",)


class EpochSource:
    """Wraps a full events DataFrame (or parquet path) into per-epoch reads."""

    def __init__(self, df: DataFrame, path: str | None = None):
        self._df = df
        self._path = path
        self._max_epoch: int | None = None
        self._dead_by_epoch: dict[int, list[str]] | None = None

    @staticmethod
    def from_parquet(spark: SparkSession, path: str) -> "EpochSource":
        return EpochSource(spark.read.parquet(path), path=path)

    def epoch_rows(self, e: int) -> int | None:
        """Row count of epoch ``e`` from parquet footers — a driver-side
        metadata read, NO Spark job — when the source is backed by a local
        ``partitionBy("epoch")`` directory; None otherwise (callers fall
        back to a count job). Saves one scheduled job per epoch in the
        fused apply, whose only other job is the fused write itself."""
        if not self._path:
            return None
        import os

        d = os.path.join(self._path, f"epoch={e}")
        if not os.path.isdir(d):
            return None
        import pyarrow.parquet as pq

        total = 0
        for root, dirs, files in os.walk(d):
            # Spark's file listing skips hidden/_temporary entries; mirror it
            # so a crashed writer's leftovers can't inflate events_in.
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            for fn in files:
                if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                    total += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
        return total

    def max_epoch(self) -> int:
        if self._max_epoch is None:
            row = self._df.select(F.max("epoch").alias("m")).first()
            self._max_epoch = int(row["m"]) if row and row["m"] is not None else -1
        return self._max_epoch

    def _dead_columns(self, e: int) -> list[str]:
        """Evolvable columns that are entirely absent in epoch ``e``.
        Computed for ALL epochs in one slim aggregate on first use — a
        16-epoch replay must not pay 16 presence-probe scan jobs (the
        aggregate reads only (epoch, evolvable) columns)."""
        present = [c for c in self._df.columns if c in EVOLVABLE]
        if not present:
            return []
        if self._dead_by_epoch is None:
            rows = (
                self._df.groupBy("epoch")
                .agg(*[F.count(F.col(c)).alias(c) for c in present])
                .collect()
            )
            self._dead_by_epoch = {
                int(r["epoch"]): [c for c in present if r[c] == 0] for r in rows
            }
        return self._dead_by_epoch.get(e, [])

    def epoch(self, e: int) -> DataFrame:
        """Events of epoch ``e``."""
        return self.epochs(e, e)

    def epochs(self, a: int, b: int) -> DataFrame:
        """Events of epochs ``a..b`` inclusive, one scan — the unit of one
        apply (ReplayConfig.catch_up_epochs). A source backed by a local
        ``partitionBy("epoch")`` directory reads only the range's existing
        ``epoch=`` directories (``basePath`` set, the source's schema), so
        the optimizer's size estimate, which sizes the kernel's shuffle
        (``plans.partitioning.shuffle_width``), is the range's bytes: a
        filter on the whole directory estimates the whole stream (Spark
        prunes partitions in the estimate only for catalog tables). Other
        sources are filtered. A column is dropped only if it is dead in
        EVERY epoch of the range (a column introduced mid-range stays, null
        before its first epoch — the same rows a per-epoch replay produces
        after schema merge)."""
        import os

        dirs = [os.path.join(self._path, f"epoch={e}") for e in range(a, b + 1)] if self._path else []
        dirs = [d for d in dirs if os.path.isdir(d)]
        if dirs:
            df = (
                self._df.sparkSession.read.schema(self._df.schema)
                .option("basePath", self._path)
                .parquet(*dirs)
            )
        else:
            df = self._df.filter((F.col("epoch") >= a) & (F.col("epoch") <= b))
        dead = set(self._dead_columns(a))
        for e in range(a + 1, b + 1):
            dead &= set(self._dead_columns(e))
        if dead:
            df = df.drop(*sorted(dead))
        return df

