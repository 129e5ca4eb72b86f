"""Structured Streaming front-end: the same epoch pipeline fed by
``readStream`` + ``foreachBatch``.

The batch replay (replay.py) is the canonical path — binlog replay is
epoch-batched by nature — but a live tail wants a streaming source. This
module wires ``spark.readStream.format("parquet")`` (file-arrival tailing,
``maxFilesPerTrigger`` as backpressure — the analog of the reference's
politeness rate limiting, /root/reference/main.py:102) into the exact same
``apply_epoch``: each micro-batch is validated, routed, LWW-deduped, and
MERGE-applied with the same exactly-once manifest protocol, keyed by the
micro-batch id.

Why foreachBatch and not a streaming MERGE sink: Spark has no built-in
upsert sink for files; foreachBatch is the documented pattern for
merge-into-lake from a stream, and it gives us batch-side APIs (joins,
argmax aggregates) plus our snapshot commit. State never accumulates in the
streaming engine (no watermark needed) because LWW-vs-target resolves late
arrivals at merge time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# apply_epoch and last_committed_epoch are called through this module's
# globals: perfbench/layers.py:install wraps them here
from wage_etl_spark.lake.manifest import last_committed_epoch
from wage_etl_spark.streaming.replay import (
    ReplayConfig, _rollback_orphans, apply_epoch, maybe_rebucket, open_tables,
    rebucket_at_start,
)


def stream_events(
    spark: SparkSession,
    events_dir: str,
    schema,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )


def start_stream(
    spark: SparkSession,
    cfg: ReplayConfig,
    events_stream: DataFrame,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Run the CDC pipeline over a stream. Exactly-once: Spark's streaming
    checkpoint gives at-least-once foreachBatch invocations with stable
    batch ids; the manifest check makes re-invocations no-ops, and the
    epoch-tagged snapshot rollback cleans torn batches — the same protocol
    as batch resume.

    Micro-batch boundaries are arbitrary file groupings, NOT version order,
    so the stream front-end FORCES keep_tombstones=True: without a tombstone
    a delete leaves no trace and a late lower-version event would silently
    resurrect the key. Readers must filter is_deleted.

    ``cfg.rebucket_above_rows`` works as in ``replay``: checked once at
    start from the footers, then after every micro-batch's apply."""
    if not cfg.keep_tombstones:
        import dataclasses
        import logging

        logging.getLogger("wage_etl_spark.streaming").warning(
            "start_stream: forcing keep_tombstones=True (micro-batches are unordered)"
        )
        cfg = dataclasses.replace(cfg, keep_tombstones=True)
    target, dlq, manifest = open_tables(spark, cfg)
    if cfg.rebucket_above_rows is not None:
        # roll a torn batch back first: its files must not be rebucketed
        # under the committed epoch's tag
        last = last_committed_epoch(manifest)
        _rollback_orphans(target, last)
        _rollback_orphans(dlq, last)
        rebucket_at_start(cfg, target, last)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        last = last_committed_epoch(manifest)
        if batch_id <= last:
            return  # already fully committed: replayed foreachBatch is a no-op
        _rollback_orphans(target, last)
        _rollback_orphans(dlq, last)
        if "epoch" in batch_df.columns:
            batch_df = batch_df.drop("epoch")
        res = apply_epoch(
            spark, cfg, target, dlq, manifest,
            batch_df, epoch=batch_id, run_id=batch_id + 1,
        )
        if cfg.rebucket_above_rows is not None:
            maybe_rebucket(cfg, target, res["max_bucket_rows"], batch_id)

    writer = events_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
