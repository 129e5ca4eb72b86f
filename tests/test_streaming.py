"""Structured Streaming front-end: stream the event log with
maxFilesPerTrigger, foreachBatch -> apply_epoch; final state equals a batch
replay of the same events; restarting the stream is a no-op."""

from __future__ import annotations

import os

from wage_etl_spark.sources.synth import synthesize_events
from wage_etl_spark.streaming.replay import ReplayConfig, open_tables, verify_state
from wage_etl_spark.streaming.structured import start_stream, stream_events

from tests.oracle import replay_oracle_global, sha_map


def _write_stream_files(spark, ev, path, n_files=4):
    # several files so maxFilesPerTrigger yields multiple micro-batches
    ev.repartition(n_files).write.mode("overwrite").parquet(path)


def test_stream_replay_matches_oracle(spark, tmp_path):
    ev = synthesize_events(spark, n_events=2000, n_keys=150, n_epochs=1, invalid_frac=0.04)
    events_dir = str(tmp_path / "events")
    _write_stream_files(spark, ev, events_dir)

    # micro-batch boundaries are arbitrary file groupings (out of version
    # order), so the target must keep tombstones: a late lower-version event
    # must not resurrect a deleted key
    cfg = ReplayConfig(warehouse=str(tmp_path / "wh"), num_buckets=8, keep_tombstones=True)
    schema = spark.read.parquet(events_dir).schema
    stream = stream_events(spark, events_dir, schema, max_files_per_trigger=2)
    q = start_stream(spark, cfg, stream, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    # order-independent oracle: global max-version winner per key
    rows = [r.asDict() for r in ev.collect()]
    oracle_state, n_valid, n_quar = replay_oracle_global(rows)
    target, dlq, manifest = open_tables(spark, cfg)
    assert verify_state(spark, target, sha_map(oracle_state))["equal"]
    assert dlq.read().count() == n_quar
    # multiple micro-batches were committed
    assert manifest.read().filter("partition_id is null").count() >= 2


def test_stream_restart_is_noop(spark, tmp_path):
    ev = synthesize_events(spark, n_events=500, n_keys=50, n_epochs=1, invalid_frac=0.0)
    events_dir = str(tmp_path / "events")
    _write_stream_files(spark, ev, events_dir, n_files=2)
    cfg = ReplayConfig(warehouse=str(tmp_path / "wh"), num_buckets=4)
    schema = spark.read.parquet(events_dir).schema

    q = start_stream(spark, cfg, stream_events(spark, events_dir, schema), str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    target, _, manifest = open_tables(spark, cfg)
    v1 = target.current_version()

    q2 = start_stream(spark, cfg, stream_events(spark, events_dir, schema), str(tmp_path / "ckpt"))
    q2.awaitTermination(300)
    assert target.current_version() == v1  # nothing re-applied


def test_stream_late_lower_version_cannot_resurrect_deleted_key(spark, tmp_path):
    """VERDICT r2 #7 — adversarial ORDER INVERSION through the streaming
    front-end specifically: micro-batch 1 carries the high-version DELETE,
    micro-batch 2 carries stale lower-version I/U for the same key. Because
    start_stream forces keep_tombstones=True, the delete persists as a
    tombstone that wins the LWW argmax against the late events — the key
    must NOT reappear."""
    import time

    from pyspark.sql import functions as F

    events_dir = str(tmp_path / "events")
    schema_ddl = (
        "op string, repo string, path string, commit string, event_seq long, "
        "lang string, content string"
    )
    high, low = "9" * 40, "1" * 40
    batch1 = spark.createDataFrame(
        [
            ("D", "r1", "doomed.py", high, 100, "py", None),
            ("I", "r1", "keeper.py", high, 101, "py", "keeper v1"),
        ],
        schema_ddl,
    )
    batch2 = spark.createDataFrame(
        [
            ("I", "r1", "doomed.py", low, 1, "py", "stale insert"),
            ("U", "r1", "doomed.py", low, 2, "py", "stale update"),
        ],
        schema_ddl,
    )
    # FileStreamSource orders batches by file modification time: write the
    # delete first, then (later mtime) the stale events
    batch1.coalesce(1).write.mode("append").parquet(events_dir)
    time.sleep(1.1)
    batch2.coalesce(1).write.mode("append").parquet(events_dir)

    cfg = ReplayConfig(warehouse=str(tmp_path / "wh"), num_buckets=4)
    schema = spark.read.parquet(events_dir).schema
    q = start_stream(
        spark, cfg, stream_events(spark, events_dir, schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    target, _, manifest = open_tables(spark, cfg)
    # two separate micro-batches actually committed (the inversion was real)
    assert manifest.read().filter("partition_id is null").count() == 2
    live = {r["path"]: r["content"] for r in target.read().filter(
        ~F.coalesce(F.col("is_deleted"), F.lit(False))).collect()}
    assert live == {"keeper.py": "keeper v1"}, "deleted key was resurrected"
    # the tombstone row is still the winner for the doomed key
    tomb = target.read().filter(F.col("path") == "doomed.py").collect()
    assert len(tomb) == 1 and tomb[0]["is_deleted"]
    assert tomb[0]["commit"] == high


def test_stream_with_fused_strategy_matches_oracle(spark, tmp_path):
    """The streaming front-end composes with the fused one-job apply: each
    micro-batch runs as a fused epoch (with forced tombstones) and the final
    state equals the order-independent oracle."""
    ev = synthesize_events(spark, n_events=1500, n_keys=120, n_epochs=1, invalid_frac=0.04)
    events_dir = str(tmp_path / "events")
    _write_stream_files(spark, ev, events_dir, n_files=3)
    cfg = ReplayConfig(
        warehouse=str(tmp_path / "wh"), num_buckets=4, dedup_strategy="fused"
    )
    schema = spark.read.parquet(events_dir).schema
    q = start_stream(
        spark, cfg, stream_events(spark, events_dir, schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)
    rows = [r.asDict() for r in ev.collect()]
    oracle_state, n_valid, n_quar = replay_oracle_global(rows)
    target, dlq, manifest = open_tables(spark, cfg)
    assert verify_state(spark, target, sha_map(oracle_state))["equal"]
    assert dlq.read().count() == n_quar


def test_fused_micro_batch_folds_buckets_and_stays_pure(spark, tmp_path, monkeypatch):
    """A 16-bucket fused micro-batch (the live-tail shape) runs its write
    shuffle on ``defaultParallelism`` reducers, not 16: every bucket folds
    onto one reducer, so each file still holds only its own bucket's keys,
    and the state equals the oracle."""
    from tests.test_merge import impure_files, shuffle_widths, spy_write_plans

    ev = synthesize_events(spark, n_events=1200, n_keys=300, n_epochs=1, invalid_frac=0.04)
    events_dir = str(tmp_path / "events")
    _write_stream_files(spark, ev, events_dir, n_files=2)
    cfg = ReplayConfig(
        warehouse=str(tmp_path / "wh"), num_buckets=16, dedup_strategy="fused",
        keep_tombstones=True,
    )
    schema = spark.read.parquet(events_dir).schema
    plans = spy_write_plans(monkeypatch, "_epoch_tmp")
    q = start_stream(
        spark, cfg, stream_events(spark, events_dir, schema, max_files_per_trigger=1),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    assert len(plans) == 2
    p = spark.sparkContext.defaultParallelism
    for plan in plans:
        assert plan.count("Exchange") == 1, plan
        assert shuffle_widths(plan) == [p], plan
    target, dlq, _ = open_tables(spark, cfg)
    assert len(target.snapshot().files) == 16
    assert impure_files(spark, target) == []
    oracle_state, _, n_quar = replay_oracle_global([r.asDict() for r in ev.collect()])
    assert verify_state(spark, target, sha_map(oracle_state))["equal"]
    assert dlq.read().count() == n_quar


def test_stream_honors_rebucket_above_rows(spark, tmp_path):
    """``rebucket_above_rows`` reaches the stream front-end: a 2-bucket
    target whose buckets pass 50 rows after a micro-batch is rebucketed to
    8, the next micro-batches apply against 8 buckets, and the final state
    equals the order-independent oracle."""
    ev = synthesize_events(spark, n_events=1200, n_keys=200, n_epochs=1, invalid_frac=0.04)
    events_dir = str(tmp_path / "events")
    _write_stream_files(spark, ev, events_dir)
    cfg = ReplayConfig(warehouse=str(tmp_path / "wh"), num_buckets=2, rebucket_above_rows=50)
    schema = spark.read.parquet(events_dir).schema
    q = start_stream(
        spark, cfg, stream_events(spark, events_dir, schema, max_files_per_trigger=2),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    target, dlq, _ = open_tables(spark, cfg)
    assert target.snapshot().num_buckets == 8
    oracle_state, _, n_quar = replay_oracle_global([r.asDict() for r in ev.collect()])
    assert verify_state(spark, target, sha_map(oracle_state))["equal"]
    assert dlq.read().count() == n_quar
