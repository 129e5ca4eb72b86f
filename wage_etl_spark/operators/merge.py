"""MERGE-apply: copy-on-write upsert of deduped change events into a LakeTable,
and the one LWW kernel every upsert in the engine runs.

Semantics = Iceberg ``MERGE INTO target t USING winners s ON t.repo=s.repo AND
t.path=s.path WHEN MATCHED AND s.op='D' THEN DELETE WHEN MATCHED THEN UPDATE
SET * WHEN NOT MATCHED AND s.op<>'D' THEN INSERT *`` — which is itself the
Spark-native form of the reference's ``INSERT ... ON CONFLICT DO UPDATE``
(/root/reference/src/load/staging.py:50-59).

``LWWKernel`` is the one assembly of the LWW kernel; both upsert front
doors run it: ``streaming.replay.apply_epoch`` (replay and streaming epochs,
the DLQ route riding through the same shuffle) and ``merge_apply`` here
(``lake.sql_merge`` and direct callers; every row takes the ``stage``
route). Its plan, and why it scales:

1. one per-bucket count of the source gives the touched set — exact,
   because source rows are bucketed with the table's own hash spec.
2. only the touched buckets' target files are read (the LakeTable stand-in
   for Iceberg partition pruning); their rows re-enter next to the source
   as ``_is_source=0`` — a persisted tombstone as a delete, or the bucket
   rewrite would silently undelete it.
3. the match is not a join: ONE collision-free repartition on a slot
   token. Each touched bucket is a slot (its rank in the touched set),
   sub-split ``mult`` ways by a key salt; the slot·mult combos fold onto R
   reducers (combo i -> reducer i mod R, exactly), R sized per apply from
   the optimizer's size estimate of the shuffle input
   (``plans.partitioning.shuffle_width``): a small apply runs one wave of
   ``defaultParallelism`` tasks instead of a task per bucket. Then a
   reducer-local sort + ``lag`` (``lww_keep``, the one tie order) keeps
   each key's winner. Re-applying a source is idempotent (equal versions ->
   source wins -> same bytes).
4. op='D' winners drop out (each touched bucket is rewritten whole, so the
   key disappears) or, with tombstones, persist as ``is_deleted`` rows.
5. one ``partitionBy(_route, _b)`` write reuses the exchange's partitioning
   (every bucket lies in one reducer: one file per bucket and route), and
   ``LakeTable.overwrite_with_files(..., touched=)`` splices the ``stage``
   files in; untouched buckets' files carry over, so an epoch touching 1%
   of keys rewrites ~1% of the data.

MERGE's duplicate-source-key hazard (Iceberg raises on ambiguous matches) is
structurally impossible here: the bucket-local sort collapses duplicate
source keys to their LWW winner (callers typically pass ``dedup_lww`` output
anyway).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from wage_etl_spark.lake.table import (
    LakeTable, Snapshot, align_columns, bucket_expr, bucket_files, to_physical,
)
from wage_etl_spark.plans.partitioning import (
    exact_partition_column, salt_ways, shuffle_width,
)


def lww_keep(columns, key_cols: list[str], ordering_cols: list[str], group_extra=()) -> Column:
    """True on the LWW winner of each (key, ``group_extra``) group — the one
    definition of the tie order. Rows are partitioned by ``_pt`` (the
    exchange's token column, so Catalyst adds only a local sort, never a
    second exchange) and sorted by the group, then (ordering...,
    ``_is_source``) desc, then every other column of ``columns`` desc; the
    first row of a group wins. Tie semantics equal ``dedup_lww``'s struct
    argmax (desc_nulls_last treats null as smallest, as struct max does), and
    ``_is_source`` makes the incoming row win an equal-version tie."""
    from pyspark.sql.window import Window

    group = [*key_cols, *group_extra]
    ordering_ext = [*ordering_cols, "_is_source"]
    tail = [c for c in columns if c not in group and c not in ordering_ext]
    w = Window.partitionBy("_pt").orderBy(
        *[F.col(c).asc() for c in group],
        *[F.col(c).desc() for c in [*ordering_ext, *tail]],
    )
    g = F.struct(*[F.col(c) for c in group])
    return ~F.lag(g).over(w).eqNullSafe(g)


class LWWKernel:
    """The single-shuffle LWW plan (steps 1-5 above) for one snapshot spec,
    evolved ``schema``, ordering and salt ways ``mult``
    (``plans.partitioning.salt_ways``). Its Columns are built once
    (Py4J-chatty) and bound to names only, so ``apply_epoch`` reuses a
    kernel across epochs; the reducer count is sized per ``write``.

    Source rows carry ``_route`` (only ``stage`` rows become table state),
    ``schema``'s columns, ``_qid`` (null, or unique on a row that must never
    collapse), ``_is_source`` = 1 and ``_op``; other columns read as nulls
    on the target side."""

    def __init__(
        self, snap: Snapshot, schema: StructType, ordering_cols: list[str],
        mult: int, tombstones: bool,
    ):
        key_cols, t_names = snap.key_cols, snap.schema.fieldNames()
        self.num_buckets, self.mult, self.tombstones = snap.num_buckets, mult, tombstones
        self.renames = snap.renames
        # the committed schema: tombstones add the is_deleted flag readers filter on
        self.schema = schema
        if tombstones and "is_deleted" not in schema.fieldNames():
            self.schema = StructType([*schema.fields, StructField("is_deleted", BooleanType())])
        reentry_op = F.lit("U")
        if "is_deleted" in t_names:
            deleted = F.coalesce(F.col("is_deleted"), F.lit(False))
            reentry_op = F.when(deleted, F.lit("D")).otherwise(reentry_op)
        self.target_cols = [
            F.lit("stage").alias("_route"),
            *align_columns(schema, t_names),
            F.lit(None).cast("long").alias("_qid"),
            F.lit(0).alias("_is_source"),
            reentry_op.alias("_op"),
        ]
        self.bucket_col = bucket_expr(key_cols, snap.num_buckets)
        self.salt_col = F.pmod(
            F.xxhash64(*[F.col(c) for c in key_cols], F.lit(0x5417)), F.lit(mult)
        ).cast("int")
        self.keep_col = lww_keep(
            [*schema.fieldNames(), "_op"], key_cols, ordering_cols, ["_qid"]
        )
        is_stage = F.col("_route") == "stage"
        self.tombstone_col = F.when(is_stage, F.col("_op") == "D")
        self.live_col = ~is_stage | (F.col("_op") != "D")

    def _pt(self, slot: Column, reducers: int) -> Column:
        """Reducer token of a row whose bucket has slot ``slot``, sub-split
        ``mult`` ways (combo i -> reducer i mod ``reducers`` exactly,
        plans/partitioning.py)."""
        combo = slot * self.mult + F.col("_salt") if self.mult > 1 else slot
        return exact_partition_column(combo % reducers, reducers)

    def bucket_counts(self, source: DataFrame, *by: str) -> dict[tuple, int]:
        """Step 1: source rows per (bucket, *``by``) — the buckets are the
        touched set."""
        return {
            tuple(int(v) for v in r[:-1]): int(r[-1])
            for r in source.groupBy(self.bucket_col, *by).count().collect()
        }

    def write(
        self, table: LakeTable, source: DataFrame, touched: set[int] | None, out_dir: str,
    ) -> tuple[dict[str, dict[str, list[str]]], int]:
        """Steps 2-5 into ``out_dir`` (``touched=None``: every bucket,
        unpruned). Returns (route -> bucket id -> file paths, with physical
        column names, ready for ``overwrite_with_files``; the shuffle's
        reducer count)."""
        if touched == set():
            return {}, 0  # an empty pruned apply has nothing to write
        unioned = table.read(buckets=touched).select(*self.target_cols).unionByName(
            source, allowMissingColumns=True
        )
        bucketed = unioned.withColumn("_b", self.bucket_col)
        if self.mult > 1:
            bucketed = bucketed.withColumn("_salt", self.salt_col)
        n_slots, slot = self.num_buckets, F.col("_b")
        if touched is not None:
            # slots for the touched buckets only (slot = rank in the touched
            # set): an untouched bucket's combos would only cap R higher. A
            # row outside the set (a source that changed between the count
            # and this read) gets a null slot, so a null token: it is still
            # written under its own _b=, and the splice refuses it
            ranks = sorted(touched)
            n_slots = len(ranks)
            pos = F.array_position(F.array(*map(F.lit, ranks)), F.col("_b"))
            slot = F.nullif(pos, F.lit(0)).cast("int") - 1
        # sized per apply, never cached: R follows this apply's input size
        reducers = shuffle_width(bucketed, n_slots * self.mult)
        # THE shuffle; the window partitions by the token (a bijection of
        # the reducer), so lww_keep adds no second exchange
        merged = (
            bucketed.withColumn("_pt", self._pt(slot, reducers)).repartition(reducers, "_pt")
            .withColumn("_keep", self.keep_col)
            .filter(F.col("_keep"))
        )
        if self.tombstones:
            merged = merged.withColumn("is_deleted", self.tombstone_col)
        else:
            merged = merged.filter(self.live_col)
        result = to_physical(
            merged.drop("_keep", "_qid", "_is_source", "_op", "_salt", "_pt"), self.renames
        )
        result.write.mode("overwrite").partitionBy("_route", "_b").parquet(out_dir)

        return {
            r[len("_route="):]: bucket_files(os.path.join(out_dir, r))
            for r in os.listdir(out_dir) if r.startswith("_route=")
        }, reducers

    def splice(
        self, table: LakeTable, files: dict[str, dict[str, list[str]]],
        properties: dict[str, str], touched: set[int] | None,
    ) -> tuple[Snapshot, dict[str, int]]:
        """Commit the ``stage`` route of ``write``'s files over the touched
        buckets; returns the snapshot and the rows per rewritten bucket
        (parquet footers, no Spark job)."""
        snap = table.overwrite_with_files(
            files.get("stage", {}), schema=self.schema, properties=properties, touched=touched
        )
        return snap, table.file_row_counts(
            {b: fs for b, fs in snap.files.items() if touched is None or int(b) in touched}
        )


def merge_apply(
    table: LakeTable,
    winners: DataFrame,
    ordering_cols: list[str],
    op_col: str = "op",
    properties: dict[str, str] | None = None,
) -> tuple[Snapshot, int, dict[str, int]]:
    """Apply deduped winners to the table; returns
    (snapshot, rows_written, rows_per_bucket).

    ``winners`` must contain the table's key columns, the ordering columns,
    an op column in {I,U,D}, and any payload columns (new payload columns
    trigger schema evolution on write), under the table's current column
    names. It is read twice (count, then write) and must give the same rows
    both times; the splice refuses a write outside the counted buckets.
    """
    snap = table.snapshot()
    key_cols = snap.key_cols
    # key columns must be hashed at the TABLE's key types: xxhash64(int) !=
    # xxhash64(long), so a numeric key arriving narrower than the snapshot
    # type (legal since type widening landed) would bucket against the wrong
    # buckets and break bucket purity. Cast up first — a no-op when types
    # already match (the engine's keys are strings).
    snap_types = {f.name: f.dataType for f in snap.schema.fields}
    for k in key_cols:
        if k in snap_types and winners.schema[k].dataType != snap_types[k]:
            winners = winners.withColumn(k, F.col(k).cast(snap_types[k]))

    # schema evolution: union of table schema and source payload schema
    schema, _, _ = table._merged_schema(winners.drop(op_col))
    kernel = LWWKernel(
        snap, schema, ordering_cols, salt_ways(table.spark, snap.num_buckets),
        tombstones=False,
    )
    src_op = F.col(op_col) if op_col in winners.columns else F.lit("U")
    src = winners.select(
        F.lit("stage").alias("_route"),
        *align_columns(schema, winners.columns),
        F.lit(None).cast("long").alias("_qid"),
        F.lit(1).alias("_is_source"),
        src_op.alias("_op"),
    )
    touched = {b for b, in kernel.bucket_counts(src)}
    if not touched:
        return (
            table._commit(snap.files, snap.schema, "merge-noop", properties or {}, parent=snap),
            0,
            {},
        )

    out_dir = os.path.join(table.root, "_merge_tmp", uuid.uuid4().hex)
    try:
        files, _ = kernel.write(table, src, touched, out_dir)
        new_snap, bucket_counts = kernel.splice(table, files, properties or {}, touched)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return new_snap, sum(bucket_counts.values()), bucket_counts
