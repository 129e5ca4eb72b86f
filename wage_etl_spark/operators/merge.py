"""MERGE-apply: copy-on-write upsert of deduped change events into a LakeTable.

Semantics = Iceberg ``MERGE INTO target t USING winners s ON t.repo=s.repo AND
t.path=s.path WHEN MATCHED AND s.op='D' THEN DELETE WHEN MATCHED THEN UPDATE
SET * WHEN NOT MATCHED AND s.op<>'D' THEN INSERT *`` — which is itself the
Spark-native form of the reference's ``INSERT ... ON CONFLICT DO UPDATE``
(/root/reference/src/load/staging.py:50-59).

Physical plan (why it scales):

1. winners are bucketed with the *same* hash spec as the table, so the set of
   touched buckets is exact; untouched buckets' files carry over to the new
   snapshot untouched — an epoch touching 1% of keys rewrites ~1% of data.
2. target-side read is pruned to touched buckets' files only (file-level
   pruning, the LakeTable stand-in for Iceberg partition pruning).
3. the match itself is not a join: target rows and winners are unioned,
   repartitioned ONCE on the bucket id, and resolved with a bucket-local
   sort + lag (tie order identical to the LWW argmax, ``is_source`` as
   final tiebreak). The write reuses that partitioning — one shuffle end to
   end where an aggregate-then-repartition plan moves every row twice. Re-
   applying the same epoch is trivially idempotent (equal versions ->
   source wins -> identical bytes out).
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

from pyspark.sql import DataFrame, functions as F

from wage_etl_spark.lake.table import LakeTable, Snapshot, bucket_expr


def merge_apply(
    table: LakeTable,
    winners: DataFrame,
    ordering_cols: list[str],
    op_col: str = "op",
    properties: dict[str, str] | None = None,
    stage_source: bool = True,
    tombstones: bool = False,
    touched_buckets: list[int] | None = None,
) -> tuple[Snapshot, int, dict[str, int]]:
    """Apply deduped winners to the table; returns
    (snapshot, rows_written, rows_per_bucket).

    ``winners`` must contain the table's key columns, the ordering columns,
    an op column in {I,U,D}, and any payload columns (new payload columns
    trigger schema evolution on write).

    ``stage_source=True`` materializes the (already deduped, hence small)
    winners to a staging parquet first, so the expensive upstream pipeline
    (scan + validate + dedup) runs exactly once — the touched-bucket probe
    and the merge join then read the staged winners, not the raw events.

    ``touched_buckets``: callers that already know the winners' bucket set
    (e.g. the replay route job writes stage output partitioned by bucket, so
    the set is a directory listing) pass it here and skip the probe job.
    """
    import shutil
    import uuid as _uuid

    snap = table.snapshot()
    key_cols = snap.key_cols

    staging_dir = None
    if stage_source:
        staging_dir = os.path.join(table.root, "_staging", _uuid.uuid4().hex)
        winners.write.mode("overwrite").parquet(staging_dir)
        winners = table.spark.read.parquet(staging_dir)

    try:
        return _merge_apply_inner(
            table, winners, ordering_cols, op_col, properties, snap, key_cols,
            tombstones, touched_buckets,
        )
    finally:
        if staging_dir:
            shutil.rmtree(staging_dir, ignore_errors=True)


def _merge_apply_inner(table, winners, ordering_cols, op_col, properties, snap, key_cols,
                       tombstones=False, touched_buckets=None):
    # 0. key columns must be hashed at the TABLE's key types: xxhash64(int)
    #    != xxhash64(long), so a numeric key arriving narrower than the
    #    snapshot type (legal since type widening landed) would bucket
    #    against the wrong buckets and break bucket purity. Cast up first —
    #    a no-op when types already match (the engine's keys are strings).
    snap_types = {f.name: f.dataType for f in snap.schema.fields}
    for k in key_cols:
        if k in snap_types and winners.schema[k].dataType != snap_types[k]:
            winners = winners.withColumn(k, F.col(k).cast(snap_types[k]))

    # 1. bucket the source and find touched buckets — from the caller when
    #    known (zero jobs), else a tiny distinct-collect probe (<= N ints)
    src = winners.withColumn("_b", bucket_expr(key_cols, snap.num_buckets))
    if touched_buckets is not None:
        touched = sorted(touched_buckets)
    else:
        touched = sorted(r["_b"] for r in src.select("_b").distinct().collect())
    if not touched:
        return (
            table._commit(snap.files, snap.schema, "merge-noop", properties or {}, parent=snap),
            0,
            {},
        )

    # 2. schema evolution: union of table schema and source payload schema
    src_payload = winners.drop(op_col)
    schema, _, _ = table._merged_schema(src_payload)

    # 3. pruned target read: only files of touched buckets
    touched_set = {str(b) for b in touched}
    # files are bucket-pure but may contain keys of other buckets only if
    # bucket spec changed; keep a cheap belt-and-braces filter that Catalyst
    # folds into the scan
    target = table.read(buckets=set(touched))
    target = target.withColumn("_b", bucket_expr(key_cols, snap.num_buckets)).filter(
        F.col("_b").isin(*touched)
    ).drop("_b")

    # 4. align both sides to the evolved schema + merge metadata columns
    def align(df: DataFrame, is_source: int, op_expr) -> DataFrame:
        # cast handles type-widened columns (old target files read narrow,
        # the evolved schema is wider); no-op when types already match
        cols = [
            (
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in schema.fields
        ]
        return df.select(*cols, F.lit(is_source).alias("_is_source"), op_expr.alias("_op"))

    # a persisted tombstone row must re-enter the argmax as a delete, or a
    # bucket rewrite would silently undelete it
    target_op = (
        F.when(F.coalesce(F.col("is_deleted"), F.lit(False)), F.lit("D")).otherwise(F.lit("U"))
        if "is_deleted" in target.columns
        else F.lit("U")
    )
    unioned = align(target, 0, target_op).unionByName(
        align(src.drop("_b"), 1, F.col(op_col) if op_col in winners.columns else F.lit("U"))
    )

    # 5. LWW winner with is_source tiebreak — SINGLE-SHUFFLE plan:
    # repartition the union once on the bucket id, then resolve winners with
    # a bucket-local sort + lag (Window.partitionBy(_b) is satisfied by the
    # repartition's HashPartitioning, so Catalyst adds only a local sort,
    # never a second exchange), and write partitionBy(_b) with NO further
    # repartition. The old shape (argmax hash aggregate keyed by the table
    # key, THEN a repartition by bucket in _write_files) moved every merged
    # row through two full shuffles; this moves it through one.
    #
    # Tie semantics are bit-identical to dedup_lww's argmax: the sort ranks
    # by (ordering..., _is_source) desc then the remaining payload columns
    # desc — exactly the struct-max comparison order (desc_nulls_last treats
    # null as smallest, as struct max does). Without tombstones, deletes
    # drop out (copy-on-write rewrites the whole bucket, so the key simply
    # disappears — valid when epochs arrive in version order). With
    # tombstones, the delete persists as an is_deleted row so a LATE lower-
    # version event cannot resurrect the key (required for out-of-order
    # micro-batches; readers filter is_deleted).
    from pyspark.sql.window import Window

    from wage_etl_spark.plans.partitioning import repartition_exact

    ordering_ext = [*ordering_cols, "_is_source"]
    payload = [c for c in unioned.columns if c not in key_cols]
    tail = [c for c in payload if c not in ordering_ext]
    # collision-free exchange: bucket i -> reducer i exactly (a raw
    # repartition(n, "_b") hash-collides ~1/e of the reducers empty and
    # doubles others — see plans/partitioning.py). The window partitions by
    # the token column (bijection of _b), so the exchange still satisfies
    # its clustering and the plan stays single-shuffle.
    bucketed = repartition_exact(
        unioned.withColumn("_b", bucket_expr(key_cols, snap.num_buckets)),
        F.col("_b"), snap.num_buckets,
    )
    w = Window.partitionBy("_pt").orderBy(
        *[F.col(c).asc() for c in key_cols],
        *[F.col(c).desc() for c in ordering_ext],
        *[F.col(c).desc() for c in tail],
    )
    key_struct = F.struct(*[F.col(c) for c in key_cols])
    merged = (
        bucketed.withColumn("_keep", ~F.lag(key_struct).over(w).eqNullSafe(key_struct))
        .filter(F.col("_keep"))
        .drop("_keep", "_pt")
    )
    if tombstones:
        result = merged.withColumn("is_deleted", F.col("_op") == "D").drop(
            "_is_source", "_op"
        )
        if "is_deleted" not in [f.name for f in schema.fields]:
            from pyspark.sql.types import BooleanType, StructField, StructType

            schema = StructType(list(schema.fields) + [StructField("is_deleted", BooleanType())])
    else:
        result = merged.filter(F.col("_op") != "D").drop("_is_source", "_op")

    # 6. write only touched buckets; splice file map ("_b" rides through the
    # write as the partition column — never lands in the file schema)
    new_files = table._write_files(result, snap, prepartitioned=True)
    spliced = {b: list(fs) for b, fs in snap.files.items() if b not in touched_set}
    for b, fs in new_files.items():
        spliced[b] = fs
    new_snap = table._commit(spliced, schema, "merge", properties or {}, parent=snap)
    # rows per rewritten bucket from parquet footers — no Spark job
    bucket_counts = table.file_row_counts(new_files)
    return new_snap, sum(bucket_counts.values()), bucket_counts
