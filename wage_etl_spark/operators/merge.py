"""MERGE-apply: copy-on-write upsert of deduped change events into a LakeTable,
and the LWW kernel helpers it shares with the replay's epoch apply.

Semantics = Iceberg ``MERGE INTO target t USING winners s ON t.repo=s.repo AND
t.path=s.path WHEN MATCHED AND s.op='D' THEN DELETE WHEN MATCHED THEN UPDATE
SET * WHEN NOT MATCHED AND s.op<>'D' THEN INSERT *`` — which is itself the
Spark-native form of the reference's ``INSERT ... ON CONFLICT DO UPDATE``
(/root/reference/src/load/staging.py:50-59).

The LWW kernel (target rows re-enter as ``_is_source=0`` next to the source
rows, one collision-free repartition on the bucket id, a bucket-local sort +
``lag`` keeps each key's winner) is built from the helpers below:
``align_columns`` (cast-or-null alignment to the evolved schema),
``reentry_op`` (tombstone re-entry), ``with_tombstones`` and ``lww_keep``
(the one definition of the tie order). Two callers assemble it:
``streaming.replay.apply_epoch`` (every replay and streaming epoch, with the
DLQ route riding through the same shuffle) and ``merge_apply`` here (the
``lake.sql_merge`` front-end and direct callers).

``merge_apply``'s physical plan (why it scales):

1. winners are bucketed with the *same* hash spec as the table, so the set of
   touched buckets is exact; untouched buckets' files carry over to the new
   snapshot untouched — an epoch touching 1% of keys rewrites ~1% of data.
2. target-side read is pruned to touched buckets' files only (file-level
   pruning, the LakeTable stand-in for Iceberg partition pruning).
3. the match itself is not a join: the LWW kernel above. The write reuses
   its partitioning — one shuffle end to end where an aggregate-then-
   repartition plan moves every row twice. Re-applying the same epoch is
   trivially idempotent (equal versions -> source wins -> identical bytes).
4. op='D' winners simply drop out after the winner resolution: tombstones
   never persist because each touched bucket is rewritten whole
   (copy-on-write).

MERGE's duplicate-source-key hazard (Iceberg raises on ambiguous matches) is
structurally impossible here: the bucket-local sort collapses duplicate
source keys to their LWW winner (callers typically pass ``dedup_lww`` output
anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from wage_etl_spark.lake.table import LakeTable, Snapshot, bucket_expr


def align_columns(schema: StructType, present) -> list[Column]:
    """``schema``'s columns in its order: a name in ``present`` cast to its
    evolved type (type-widened columns read narrow from old files; a no-op
    when the types match), any other name a typed null."""
    return [
        (
            F.col(f.name).cast(f.dataType) if f.name in present
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in schema.fields
    ]


def reentry_op(columns) -> Column:
    """The ``_op`` a target row re-enters LWW resolution with: a persisted
    tombstone must re-enter as a delete, or a bucket rewrite would silently
    undelete it."""
    if "is_deleted" not in columns:
        return F.lit("U")
    return F.when(F.coalesce(F.col("is_deleted"), F.lit(False)), F.lit("D")).otherwise(F.lit("U"))


def with_tombstones(schema: StructType) -> StructType:
    """``schema`` plus the nullable ``is_deleted`` flag readers filter on."""
    if "is_deleted" in schema.fieldNames():
        return schema
    return StructType(list(schema.fields) + [StructField("is_deleted", BooleanType())])


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


def merge_apply(
    table: LakeTable,
    winners: DataFrame,
    ordering_cols: list[str],
    op_col: str = "op",
    properties: dict[str, str] | None = None,
    stage_source: bool = True,
    tombstones: bool = False,
) -> tuple[Snapshot, int, dict[str, int]]:
    """Apply deduped winners to the table; returns
    (snapshot, rows_written, rows_per_bucket).

    ``winners`` must contain the table's key columns, the ordering columns,
    an op column in {I,U,D}, and any payload columns (new payload columns
    trigger schema evolution on write).

    ``stage_source=True`` materializes the (already deduped, hence small)
    winners to a staging parquet first, so the expensive upstream pipeline
    (scan + validate + dedup) runs exactly once — the touched-bucket probe
    and the merge then read the staged winners, not the raw events.
    """
    import shutil
    import uuid as _uuid

    snap = table.snapshot()

    staging_dir = None
    if stage_source:
        staging_dir = os.path.join(table.root, "_staging", _uuid.uuid4().hex)
        winners.write.mode("overwrite").parquet(staging_dir)
        winners = table.spark.read.parquet(staging_dir)

    try:
        return _merge_apply_inner(table, winners, ordering_cols, op_col, properties, snap, tombstones)
    finally:
        if staging_dir:
            shutil.rmtree(staging_dir, ignore_errors=True)


def _merge_apply_inner(table, winners, ordering_cols, op_col, properties, snap, tombstones):
    key_cols = snap.key_cols
    # 0. key columns must be hashed at the TABLE's key types: xxhash64(int)
    #    != xxhash64(long), so a numeric key arriving narrower than the
    #    snapshot type (legal since type widening landed) would bucket
    #    against the wrong buckets and break bucket purity. Cast up first —
    #    a no-op when types already match (the engine's keys are strings).
    snap_types = {f.name: f.dataType for f in snap.schema.fields}
    for k in key_cols:
        if k in snap_types and winners.schema[k].dataType != snap_types[k]:
            winners = winners.withColumn(k, F.col(k).cast(snap_types[k]))

    # 1. bucket the source and find touched buckets (a tiny distinct-collect
    #    probe, <= N ints)
    src = winners.withColumn("_b", bucket_expr(key_cols, snap.num_buckets))
    touched = sorted(r["_b"] for r in src.select("_b").distinct().collect())
    if not touched:
        return (
            table._commit(snap.files, snap.schema, "merge-noop", properties or {}, parent=snap),
            0,
            {},
        )

    # 2. schema evolution: union of table schema and source payload schema
    schema, _, _ = table._merged_schema(winners.drop(op_col))

    # 3. pruned target read: only files of touched buckets. Files are
    #    bucket-pure but may contain keys of other buckets only if the bucket
    #    spec changed; keep a cheap belt-and-braces filter that Catalyst
    #    folds into the scan
    target = table.read(buckets=set(touched))
    target = target.withColumn("_b", bucket_expr(key_cols, snap.num_buckets)).filter(
        F.col("_b").isin(*touched)
    ).drop("_b")

    # 4. both sides aligned to the evolved schema + merge metadata columns
    src_op = F.col(op_col) if op_col in winners.columns else F.lit("U")
    unioned = target.select(
        *align_columns(schema, target.columns), F.lit(0).alias("_is_source"),
        reentry_op(target.columns).alias("_op"),
    ).unionByName(
        src.select(
            *align_columns(schema, winners.columns), F.lit(1).alias("_is_source"),
            src_op.alias("_op"),
        )
    )

    # 5. LWW winners, SINGLE-SHUFFLE: one collision-free repartition on the
    #    bucket id (bucket i -> reducer i exactly, plans/partitioning.py),
    #    the bucket-local lww_keep sort, and a partitionBy(_b) write with NO
    #    further repartition. Without tombstones, deletes drop out (the
    #    whole bucket is rewritten, so the key simply disappears — valid when
    #    epochs arrive in version order). With tombstones, the delete
    #    persists as an is_deleted row so a LATE lower-version event cannot
    #    resurrect the key (required for out-of-order micro-batches).
    from wage_etl_spark.plans.partitioning import repartition_exact

    bucketed = repartition_exact(
        unioned.withColumn("_b", bucket_expr(key_cols, snap.num_buckets)),
        F.col("_b"), snap.num_buckets,
    )
    merged = (
        bucketed.withColumn("_keep", lww_keep(unioned.columns, key_cols, ordering_cols))
        .filter(F.col("_keep"))
        .drop("_keep", "_pt")
    )
    if tombstones:
        result = merged.withColumn("is_deleted", F.col("_op") == "D").drop("_is_source", "_op")
        schema = with_tombstones(schema)
    else:
        result = merged.filter(F.col("_op") != "D").drop("_is_source", "_op")

    # 6. write only touched buckets; splice file map ("_b" rides through the
    # write as the partition column — never lands in the file schema)
    new_files = table._write_files(result, snap, prepartitioned=True)
    touched_set = {str(b) for b in touched}
    spliced = {b: list(fs) for b, fs in snap.files.items() if b not in touched_set}
    spliced.update(new_files)
    new_snap = table._commit(spliced, schema, "merge", properties or {}, parent=snap)
    # rows per rewritten bucket from parquet footers — no Spark job
    bucket_counts = table.file_row_counts(new_files)
    return new_snap, sum(bucket_counts.values()), bucket_counts
