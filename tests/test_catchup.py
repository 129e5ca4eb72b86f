"""Catch-up coalescing (ReplayConfig.catch_up_epochs): a chunk of pending
epochs applied in ONE apply must be byte-identical to the per-epoch
replay — final state, DLQ contents, and per-epoch manifest metrics — and the
chunk's manifest append must stay the atomic commit point for resume.

Equivalence argument under test: the apply is monotone max-version LWW
(state re-enters as is_source=0 and the bucket-local sort picks the global
per-key argmax), so iterating it over epochs a..b and running it once over
the union of a..b's events yield the same winners."""

from __future__ import annotations

import dataclasses
import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from wage_etl_spark.lake.manifest import last_committed_epoch
from wage_etl_spark.sources.events import EpochSource
from wage_etl_spark.sources.synth import synthesize_events
from wage_etl_spark.streaming.replay import (
    ReplayConfig, open_tables, reference_state, replay, verify_state,
)

from tests.conftest import next_job_id


def _state_map(table):
    df = table.read()
    if "is_deleted" in df.columns:
        df = df.filter(~F.coalesce(F.col("is_deleted"), F.lit(False)))
    return {
        (r["repo"], r["path"]): r["content_sha256"] for r in df.collect()
    }


def _replay_parquet(spark, tmp_path, name, ev):
    path = str(tmp_path / name)
    ev.write.mode("overwrite").partitionBy("epoch").parquet(path)
    return EpochSource.from_parquet(spark, path)


@pytest.mark.parametrize("strategy", ["fused", "auto"])
def test_chunk_equals_per_epoch_replay(spark, tmp_path, strategy):
    ev = synthesize_events(
        spark, n_events=3000, n_keys=80, n_epochs=4, invalid_frac=0.05
    )
    ev.cache().count()
    src = _replay_parquet(spark, tmp_path, "ev", ev)

    cfg_a = ReplayConfig(
        warehouse=str(tmp_path / "whA"), num_buckets=8, dedup_strategy=strategy
    )
    res_a = replay(spark, cfg_a, src)
    cfg_b = ReplayConfig(
        warehouse=str(tmp_path / "whB"), num_buckets=8, dedup_strategy=strategy,
        catch_up_epochs=4,
    )
    res_b = replay(spark, cfg_b, src)

    # one chunk applied all four epochs
    assert len(res_b) == 1 and res_b[0]["epochs"] == [0, 1, 2, 3]

    ta, da, ma = open_tables(spark, cfg_a)
    tb, db, mb = open_tables(spark, cfg_b)
    # byte-identical final state + identical DLQ volume
    assert _state_map(ta) == _state_map(tb)
    assert da.read().count() == db.read().count()
    assert verify_state(spark, tb, reference_state(ev))["equal"]

    # per-epoch manifest metrics identical to the per-epoch run's
    per_a = {r["epoch"]: (r["events_in"], r["quarantined"]) for r in res_a}
    per_b = {
        m["epoch"]: (m["events_in"], m["rows_quarantined"])
        for m in res_b[0]["per_epoch"]
    }
    assert per_a == per_b
    rows = (
        mb.read().filter(F.col("partition_id").isNull()).orderBy("epoch").collect()
    )
    assert [int(r["epoch"]) for r in rows] == [0, 1, 2, 3]
    assert all(r["snapshot_id"] == rows[0]["snapshot_id"] for r in rows)
    assert last_committed_epoch(mb) == 3
    ev.unpersist()


def test_chunk_resume_and_partial_tail(spark, tmp_path):
    """max_epochs stops mid-stream; the next replay resumes from the chunk
    boundary; a trailing partial chunk (3 epochs into chunks of 2) works."""
    ev = synthesize_events(
        spark, n_events=2400, n_keys=60, n_epochs=6, invalid_frac=0.04
    )
    ev.cache().count()
    src = _replay_parquet(spark, tmp_path, "ev", ev)
    wh = str(tmp_path / "wh")
    first = replay(
        spark,
        ReplayConfig(
            warehouse=wh, num_buckets=8, dedup_strategy="fused",
            catch_up_epochs=2, max_epochs=3,
        ),
        src,
    )
    # 3 pending epochs -> one chunk of 2 + one single (partial tail)
    assert [r["epochs"] for r in first] == [[0, 1], [2]]
    second = replay(
        spark,
        ReplayConfig(
            warehouse=wh, num_buckets=8, dedup_strategy="fused", catch_up_epochs=2
        ),
        src,
    )
    assert [r["epochs"] for r in second] == [[3, 4], [5]]
    cfg = ReplayConfig(warehouse=wh, num_buckets=8)
    target, _dlq, manifest = open_tables(spark, cfg)
    assert last_committed_epoch(manifest) == 5
    assert verify_state(spark, target, reference_state(ev))["equal"]
    # rerun is a no-op
    assert replay(spark, cfg, src) == []
    ev.unpersist()


def test_chunk_schema_evolution_mid_chunk(spark, tmp_path):
    """A column introduced mid-chunk (lang_version from epoch 2, chunk 0..3)
    survives: pre-introduction rows are null, the final state matches the
    per-epoch replay that merged the schema at epoch 2."""
    ev = synthesize_events(
        spark, n_events=2000, n_keys=50, n_epochs=4, invalid_frac=0.0,
        evolve_from_epoch=2,
    )
    ev.cache().count()
    src = _replay_parquet(spark, tmp_path, "ev", ev)
    cfg_a = ReplayConfig(
        warehouse=str(tmp_path / "whA"), num_buckets=4, dedup_strategy="fused"
    )
    replay(spark, cfg_a, src)
    cfg_b = ReplayConfig(
        warehouse=str(tmp_path / "whB"), num_buckets=4, dedup_strategy="fused",
        catch_up_epochs=4,
    )
    replay(spark, cfg_b, src)
    ta, _, _ = open_tables(spark, cfg_a)
    tb, _, _ = open_tables(spark, cfg_b)
    assert "lang_version" in tb.read().columns
    a = {
        (r["repo"], r["path"]): (r["content_sha256"], r["lang_version"])
        for r in ta.read().collect()
    }
    b = {
        (r["repo"], r["path"]): (r["content_sha256"], r["lang_version"])
        for r in tb.read().collect()
    }
    assert a == b
    ev.unpersist()


def test_chunk_crash_is_atomic(spark, tmp_path):
    """Tear the warehouse the way a crash between the chunk's target commit
    and its manifest append would: the manifest knows nothing of the chunk,
    so resume rolls the WHOLE chunk back and re-runs it — no epoch of a
    half-committed chunk is ever observable."""
    ev = synthesize_events(
        spark, n_events=2000, n_keys=50, n_epochs=4, invalid_frac=0.03
    )
    ev.cache().count()
    src = _replay_parquet(spark, tmp_path, "ev", ev)
    wh = str(tmp_path / "wh")
    cfg = ReplayConfig(
        warehouse=wh, num_buckets=4, dedup_strategy="fused", catch_up_epochs=2
    )
    replay(spark, dataclasses.replace(cfg, max_epochs=2), src)

    # run the second chunk, then erase its manifest append (simulated torn
    # chunk: target + dlq committed, manifest not)
    replay(spark, cfg, src)
    meta = os.path.join(wh, "manifest", "_meta")
    snaps = sorted(glob.glob(os.path.join(meta, "snap-*.json")))
    os.remove(snaps[-1])
    prev = int(snaps[-2].split("snap-")[1].split(".json")[0])
    with open(os.path.join(meta, "version-hint.text"), "w") as f:
        f.write(str(prev))

    target, _dlq, manifest = open_tables(spark, cfg)
    assert last_committed_epoch(manifest) == 1  # chunk [2,3] uncommitted
    res = replay(spark, cfg, src)  # rolls back orphans, re-runs chunk [2,3]
    assert [r["epochs"] for r in res] == [[2, 3]]
    target, _dlq, manifest = open_tables(spark, cfg)
    assert last_committed_epoch(manifest) == 3
    assert verify_state(spark, target, reference_state(ev))["equal"]
    # the rollback is visible in the target's snapshot history
    tmeta = os.path.join(wh, "repo_code", "_meta")
    ops = [
        json.load(open(p)).get("operation")
        for p in sorted(glob.glob(os.path.join(tmeta, "snap-*.json")))
    ]
    assert "rollback" in ops
    ev.unpersist()


def test_auto_chunk_counts_in_the_bucket_count(spark, tmp_path):
    """Without footer counts (an in-memory source), a 4-epoch ``auto`` chunk
    takes its per-epoch ``events_in`` from the (bucket, epoch) count that
    also gives the touched set: no separate per-epoch count job."""
    ev = synthesize_events(
        spark, n_events=1200, n_keys=40, n_epochs=5, invalid_frac=0.05
    )
    ev.cache().count()
    src = EpochSource(ev)
    cfg = ReplayConfig(warehouse=str(tmp_path / "wh"), num_buckets=8, catch_up_epochs=4)
    replay(spark, dataclasses.replace(cfg, max_epochs=1), src)

    j0 = next_job_id(spark)
    res = replay(spark, cfg, src)
    assert next_job_id(spark) - j0 <= 4
    assert [r["epochs"] for r in res] == [[1, 2, 3, 4]]
    expected = {
        int(r["epoch"]): int(r["count"])
        for r in ev.filter("epoch >= 1").groupBy("epoch").count().collect()
    }
    assert {m["epoch"]: m["events_in"] for m in res[0]["per_epoch"]} == expected
    target, _dlq, _manifest = open_tables(spark, cfg)
    assert verify_state(spark, target, reference_state(ev))["equal"]
    ev.unpersist()
