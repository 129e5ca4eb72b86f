"""End-to-end replay vs pure-Python oracle: per-key sha256(content) equality,
manifest counters, DLQ contents, status rules (the BASELINE.json invariant)."""

from __future__ import annotations

import dataclasses

from pyspark.sql import functions as F

from wage_etl_spark.lake.manifest import last_committed_epoch
from wage_etl_spark.sources.events import EpochSource
from wage_etl_spark.sources.synth import synthesize_events
from wage_etl_spark.streaming.replay import ReplayConfig, open_tables, replay, verify_state

from tests.conftest import next_job_id
from tests.oracle import replay_oracle, sha_map


def run_replay(spark, warehouse, **synth_kw):
    ev = synthesize_events(spark, **synth_kw)
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=8)
    results = replay(spark, cfg, EpochSource(ev))
    rows = [r.asDict() for r in ev.collect()]
    oracle_state, n_valid, n_quar = replay_oracle(rows)
    return ev, cfg, results, oracle_state, n_valid, n_quar


def test_final_state_sha256_equality(spark, warehouse):
    ev, cfg, results, oracle_state, n_valid, n_quar = run_replay(
        spark, warehouse, n_events=4000, n_keys=250, n_epochs=4, invalid_frac=0.03
    )
    target, dlq, manifest = open_tables(spark, cfg)
    report = verify_state(spark, target, sha_map(oracle_state))
    assert report["equal"], report
    # lineage columns present and populated
    row = target.read().first()
    assert row["content_sha256"] is not None and row["epoch"] is not None


def test_manifest_counters_match_oracle(spark, warehouse):
    ev, cfg, results, oracle_state, n_valid, n_quar = run_replay(
        spark, warehouse, n_events=3000, n_keys=150, n_epochs=3, invalid_frac=0.05
    )
    target, dlq, manifest = open_tables(spark, cfg)
    m = manifest.read().filter(F.col("partition_id").isNull())
    agg = m.select(
        F.sum("events_in").alias("ei"), F.sum("rows_quarantined").alias("q")
    ).first()
    assert agg["ei"] == ev.count()
    assert agg["q"] == n_quar
    assert dlq.read().count() == n_quar
    # per-partition lineage rows exist
    assert manifest.read().filter(F.col("partition_id").isNotNull()).count() > 0
    statuses = {r["status"] for r in m.collect()}
    assert statuses <= {"SUCCESS", "PARTIAL", "FAILED"}
    assert "PARTIAL" in statuses  # invalid_frac>0 -> some epoch had rejects
    # rows_loaded = the epoch's valid events; rows_merged = rewritten-bucket
    # totals (carried-over rows included). loaded is bounded by the epoch's
    # valid events, merged is not comparable to it.
    for r in m.collect():
        assert r["rows_loaded"] is not None
        assert r["rows_loaded"] <= r["events_in"] - r["rows_quarantined"]
    assert m.select(F.sum("rows_loaded")).first()[0] <= n_valid


def test_all_valid_stream_is_success(spark, warehouse):
    ev, cfg, results, *_ = run_replay(
        spark, warehouse, n_events=500, n_keys=50, n_epochs=2, invalid_frac=0.0
    )
    assert {r["status"] for r in results} == {"SUCCESS"}


def test_replay_twice_is_noop(spark, warehouse):
    """Re-invoking replay on a fully-committed stream applies nothing."""
    ev, cfg, results, *_ = run_replay(
        spark, warehouse, n_events=500, n_keys=50, n_epochs=2
    )
    again = replay(spark, cfg, EpochSource(ev))
    assert again == []
    target, dlq, manifest = open_tables(spark, cfg)
    assert last_committed_epoch(manifest) == 1


import pytest


@pytest.mark.parametrize("seed", [7, 123])
def test_seed_matrix_oracle_equality(spark, warehouse, seed):
    """Different generator seeds — guards against fixture-specific luck."""
    ev = synthesize_events(
        spark, n_events=1500, n_keys=100, n_epochs=2, invalid_frac=0.04, seed=seed
    )
    cfg = ReplayConfig(warehouse=f"{warehouse}/s{seed}", num_buckets=8)
    replay(spark, cfg, EpochSource(ev))
    target, dlq, manifest = open_tables(spark, cfg)
    oracle_state, _, n_quar = replay_oracle([r.asDict() for r in ev.collect()])
    assert verify_state(spark, target, sha_map(oracle_state))["equal"]
    assert dlq.read().count() == n_quar


def test_shuffle_fallback_dedup_matches_oracle(spark, warehouse):
    """dedup_strategy='shuffle' runs the pruned plan behind an argmax
    pre-collapse; result must be identical to the oracle."""
    ev = synthesize_events(spark, n_events=3000, n_keys=150, n_epochs=2, invalid_frac=0.05)
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=8, dedup_strategy="shuffle")
    replay(spark, cfg, EpochSource(ev))
    target, dlq, manifest = open_tables(spark, cfg)
    oracle_state, n_valid, n_quar = replay_oracle([r.asDict() for r in ev.collect()])
    assert verify_state(spark, target, sha_map(oracle_state))["equal"]
    assert dlq.read().count() == n_quar


def test_dlq_rows_are_json_of_original_event(spark, warehouse):
    import json

    ev, cfg, *_ = run_replay(
        spark, warehouse, n_events=1000, n_keys=60, n_epochs=2, invalid_frac=0.1
    )
    target, dlq, manifest = open_tables(spark, cfg)
    row = dlq.read().first()
    raw = json.loads(row["raw_data"])
    assert "repo" in raw and "op" in raw
    assert 0 < len(row["rejection_reason"]) <= 1000


def test_verify_state_distributed_million_keys(spark, warehouse):
    """Scale guard for the sha256 verification path (north rule): verify on
    >10^6 keys with a DataFrame oracle — a full-outer-join comparison, no
    full-table collect to the driver — and catch injected missing / extra /
    mismatched keys with bounded diff output."""
    from pyspark.sql import functions as F

    from wage_etl_spark.lake.table import LakeTable
    from wage_etl_spark.streaming.replay import TARGET_SCHEMA

    n = 1_100_000
    base = spark.range(n).select(
        F.concat(F.lit("repo-"), (F.col("id") % 997).cast("string")).alias("repo"),
        F.concat(F.lit("src/f"), F.col("id").cast("string"), F.lit(".py")).alias("path"),
        F.sha2(F.concat(F.lit("c"), F.col("id").cast("string")), 256).alias("content_sha256"),
    )
    target = LakeTable.create(
        spark, warehouse, TARGET_SCHEMA, key_cols=["repo", "path"], num_buckets=8
    )
    target.append(base)

    ok = verify_state(spark, target, base)
    assert ok["equal"], {k: ok[k] for k in ("n_missing", "n_extra", "n_mismatched")}
    assert ok["engine_rows"] == n and ok["oracle_rows"] == n

    # oracle with 1 extra key, 1 missing key, 1 changed sha
    tampered = (
        base.filter(F.col("path") != "src/f7.py")  # engine key becomes "extra"
        .withColumn(
            "content_sha256",
            F.when(F.col("path") == "src/f9.py", F.lit("0" * 64)).otherwise(
                F.col("content_sha256")
            ),
        )
        .unionByName(
            spark.createDataFrame(
                [("repo-x", "only/in/oracle.py", "1" * 64)],
                "repo string, path string, content_sha256 string",
            )
        )
    )
    bad = verify_state(spark, target, tampered)
    assert not bad["equal"]
    assert bad["n_missing"] == 1 and bad["n_extra"] == 1 and bad["n_mismatched"] == 1
    assert ("repo-x", "only/in/oracle.py") in bad["missing"]
    assert any(k[1] == "src/f7.py" for k in bad["extra"])
    assert any(k[1] == "src/f9.py" for k in bad["mismatched"])


def test_reference_state_matches_python_oracle(spark):
    """The Spark-side reference replay (window path) agrees with the pure-
    Python oracle on a multi-epoch stream with tombstone-safe ordering."""
    from wage_etl_spark.streaming.replay import reference_state

    ev = synthesize_events(spark, n_events=4000, n_keys=200, n_epochs=3, invalid_frac=0.05)
    got = {
        (r["repo"], r["path"]): r["content_sha256"]
        for r in reference_state(ev).collect()
    }
    from tests.oracle import replay_oracle_global, sha_map

    oracle_state, *_ = replay_oracle_global([r.asDict() for r in ev.collect()])
    assert got == sha_map(oracle_state)


def test_verify_state_null_key_component_matches(spark, warehouse):
    """ADVICE r2: the full-outer compare joins with eqNullSafe per key column,
    so a null key component present (and equal) on both sides is MATCHED —
    not reported as one missing plus one extra."""
    from wage_etl_spark.lake.table import LakeTable
    from wage_etl_spark.streaming.replay import TARGET_SCHEMA

    rows = [("r1", None, "a" * 64), ("r1", "p1", "b" * 64)]
    df = spark.createDataFrame(rows, "repo string, path string, content_sha256 string")
    target = LakeTable.create(
        spark, warehouse, TARGET_SCHEMA, key_cols=["repo", "path"], num_buckets=4
    )
    target.append(df)
    ok = verify_state(spark, target, df)
    assert ok["equal"], {k: ok[k] for k in ("n_missing", "n_extra", "n_mismatched")}
    # and a sha mismatch on the null-keyed row is reported as a MISMATCH
    tampered = spark.createDataFrame(
        [("r1", None, "c" * 64), ("r1", "p1", "b" * 64)],
        "repo string, path string, content_sha256 string",
    )
    bad = verify_state(spark, target, tampered)
    assert bad["n_mismatched"] == 1 and bad["n_missing"] == 0 and bad["n_extra"] == 0


import pytest


@pytest.mark.parametrize("strategy", ["shuffle", "fused"])
def test_alternate_strategies_match_oracle(spark, warehouse, strategy):
    """dedup_strategy='shuffle' (the pruned plan behind an argmax
    pre-collapse) and 'fused' (the plan unpruned: whole target state unioned
    with events, single bucket repartition, file adoption for both DLQ and
    target) must both equal the per-epoch oracle, including the
    duplicate-event fixture rows."""
    ev = synthesize_events(spark, n_events=4000, n_keys=250, n_epochs=3, invalid_frac=0.05)
    cfg = ReplayConfig(warehouse=f"{warehouse}/{strategy}", num_buckets=8, dedup_strategy=strategy)
    replay(spark, cfg, EpochSource(ev))
    oracle_state, n_valid, n_quar = replay_oracle([r.asDict() for r in ev.collect()])
    target, dlq, manifest = open_tables(spark, cfg)
    report = verify_state(spark, target, sha_map(oracle_state))
    assert report["equal"], {k: report[k] for k in ("n_missing", "n_extra", "n_mismatched")}
    assert dlq.read().count() == n_quar


def test_fused_resume_evolution_and_tombstones(spark, warehouse):
    """Fused mode under the full protocol: resume from the manifest after a
    partial replay, schema evolution mid-stream (lang_version appears at
    epoch 2), and keep_tombstones on — final state still sha256-equals the
    oracle and the evolved column lands."""
    from pyspark.sql import functions as F

    ev = synthesize_events(
        spark, n_events=3000, n_keys=150, n_epochs=4, invalid_frac=0.05,
        evolve_from_epoch=2,
    )
    base = dict(warehouse=warehouse, num_buckets=8, dedup_strategy="fused",
                keep_tombstones=True)
    first = replay(spark, ReplayConfig(**base, max_epochs=2), EpochSource(ev))
    assert [r["epoch"] for r in first] == [0, 1]
    second = replay(spark, ReplayConfig(**base), EpochSource(ev))
    assert [r["epoch"] for r in second] == [2, 3]

    oracle_state, n_valid, n_quar = replay_oracle([r.asDict() for r in ev.collect()])
    target, dlq, manifest = open_tables(spark, ReplayConfig(**base))
    report = verify_state(spark, target, sha_map(oracle_state))
    assert report["equal"], {k: report[k] for k in ("n_missing", "n_extra", "n_mismatched")}
    assert dlq.read().count() == n_quar
    cols = target.read().columns
    assert "lang_version" in cols and "is_deleted" in cols
    # tombstones really persisted (some keys saw a delete as their winner)
    assert target.read().filter(F.coalesce("is_deleted", F.lit(False))).count() > 0


def test_fused_all_quarantined_epoch_preserves_state(spark, warehouse):
    """Fused rewrites the whole table per epoch; an epoch where EVERY event
    is quarantined must re-emit the prior state unchanged (the target rows
    ride through the LWW resolution) and route everything else to the DLQ."""
    from pyspark.sql import functions as F

    cfg = ReplayConfig(warehouse=warehouse, num_buckets=4, dedup_strategy="fused")
    good = synthesize_events(spark, n_events=500, n_keys=50, n_epochs=1, invalid_frac=0.0)
    replay(spark, cfg, EpochSource(good))
    target, dlq, manifest = open_tables(spark, cfg)
    before = {
        (r["repo"], r["path"]): r["content_sha256"] for r in target.read().collect()
    }
    assert before

    # epoch 1: every event invalid (op X + empty path)
    bad = (
        synthesize_events(spark, n_events=200, n_keys=50, n_epochs=1, invalid_frac=0.0)
        .withColumn("op", F.lit("X"))
        .withColumn("epoch", F.lit(1))
    )
    res = replay(spark, cfg, EpochSource(good.unionByName(bad)))
    assert [r["epoch"] for r in res] == [1]
    assert res[0]["quarantined"] == res[0]["events_in"]
    after = {
        (r["repo"], r["path"]): r["content_sha256"] for r in target.read().collect()
    }
    assert after == before
    assert dlq.read().filter("epoch = 1").count() == res[0]["events_in"]


def test_auto_rebucket_grows_layout_mid_replay(spark, warehouse):
    """rebucket_above_rows: when an epoch's largest bucket passes the
    threshold the target is rebucketed to 4x mid-replay; later epochs merge
    against the new spec and the final state still equals the oracle."""
    ev = synthesize_events(spark, n_events=4000, n_keys=400, n_epochs=3, invalid_frac=0.02)
    cfg = ReplayConfig(
        warehouse=warehouse, num_buckets=2, rebucket_above_rows=50,
    )
    results = replay(spark, cfg, EpochSource(ev))
    assert any(r.get("rebucketed_to") for r in results)
    target, dlq, manifest = open_tables(spark, cfg)
    assert target.snapshot().num_buckets >= 8  # grew at least once (2 -> 8)
    oracle_state, n_valid, n_quar = replay_oracle([r.asDict() for r in ev.collect()])
    report = verify_state(spark, target, sha_map(oracle_state))
    assert report["equal"], {k: report[k] for k in ("n_missing", "n_extra", "n_mismatched")}


def test_rebucket_retriggers_on_resume_after_crash_before_rebucket(spark, warehouse):
    """ADVICE fix (round 4): a crash between the manifest commit and the
    rebucket must re-trigger the rebucket on the NEXT replay even though the
    later epochs never rewrite the oversized bucket past the threshold.
    Simulated by running the first replay WITHOUT the trigger (state grows,
    no rebucket — the post-crash on-disk state) and resuming WITH it."""
    ev = synthesize_events(spark, n_events=4000, n_keys=400, n_epochs=4, invalid_frac=0.0)
    # epochs 0..2 replayed without a trigger: buckets grow past 50 rows
    cfg0 = ReplayConfig(warehouse=warehouse, num_buckets=2, max_epochs=3)
    replay(spark, cfg0, EpochSource(ev))
    target, _dlq, _manifest = open_tables(spark, cfg0)
    assert target.snapshot().num_buckets == 2
    assert max(target.file_row_counts(target.snapshot().files).values()) > 50

    # resume with the trigger: the START-of-run check must rebucket before
    # epoch 3 runs, and the final state must still equal the oracle
    cfg1 = ReplayConfig(warehouse=warehouse, num_buckets=2, rebucket_above_rows=50)
    replay(spark, cfg1, EpochSource(ev))
    assert target.snapshot().num_buckets == 8
    oracle_state, _nv, _nq = replay_oracle([r.asDict() for r in ev.collect()])
    report = verify_state(spark, target, sha_map(oracle_state))
    assert report["equal"], {k: report[k] for k in ("n_missing", "n_extra", "n_mismatched")}


def _sparse_stream(spark, boot=3000, tail=15):
    """A bootstrap epoch 0 and one tiny epoch 1 over a wide keyspace."""
    ev = synthesize_events(
        spark, n_events=boot + tail, n_keys=2000, n_epochs=1, invalid_frac=0.03
    )
    return ev.withColumn(
        "epoch", F.when(F.col("event_seq") < boot, 0).otherwise(1).cast("long")
    )


def test_sparse_auto_epoch_is_pruned_and_four_jobs(spark, warehouse):
    """The default ``auto`` strategy applies a sparse epoch with the fused
    LWW plan pruned to its touched buckets: at most 4 Spark jobs (the
    per-bucket count and the write, each a map stage plus a result stage),
    every untouched bucket keeps its exact file list, and the final state
    still equals the oracle."""
    from wage_etl_spark.lake.table import bucket_expr

    ev = _sparse_stream(spark)
    src = EpochSource(ev)
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=32)
    assert cfg.dedup_strategy == "auto"
    replay(spark, ReplayConfig(warehouse=warehouse, num_buckets=32, max_epochs=1), src)
    target, dlq, manifest = open_tables(spark, cfg)
    before = target.snapshot()

    j0 = next_job_id(spark)
    res = replay(spark, cfg, src)
    jobs = next_job_id(spark) - j0
    assert [r["epoch"] for r in res] == [1]
    assert jobs <= 4, jobs

    epoch_buckets = {
        r["_b"]
        for r in ev.filter("epoch = 1").select(bucket_expr(["repo", "path"], 32).alias("_b")).collect()
    }
    assert 0 < len(epoch_buckets) < 32
    after = target.snapshot()
    for b in set(before.files) | set(after.files):
        if int(b) not in epoch_buckets:
            assert after.files.get(b) == before.files.get(b), b
    assert any(after.files.get(str(b)) != before.files.get(str(b)) for b in epoch_buckets)
    # the manifest's per-partition rows name only rewritten buckets
    parts = manifest.read().filter("epoch = 1 AND partition_id IS NOT NULL").collect()
    assert {r["partition_id"] for r in parts} <= epoch_buckets

    oracle_state, _, n_quar = replay_oracle([r.asDict() for r in ev.collect()])
    report = verify_state(spark, target, sha_map(oracle_state))
    assert report["equal"], {k: report[k] for k in ("n_missing", "n_extra", "n_mismatched")}
    assert dlq.read().count() == n_quar


def test_empty_auto_epoch_keeps_file_map(spark, warehouse):
    """An epoch with no events still commits (DLQ, target, manifest), and
    the target's file map is unchanged. Finding it empty is the per-bucket
    count (a map stage and a result stage); nothing is written."""
    from wage_etl_spark.streaming.replay import apply_epoch

    ev = _sparse_stream(spark, tail=0)
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=8)
    replay(spark, cfg, EpochSource(ev))
    target, dlq, manifest = open_tables(spark, cfg)
    before, v0 = target.snapshot(), target.current_version()

    empty = ev.filter(F.lit(False))
    j0 = next_job_id(spark)
    res = apply_epoch(spark, cfg, target, dlq, manifest, empty, 1, 2)
    assert next_job_id(spark) - j0 <= 2
    assert res["events_in"] == 0 and res["status"] == "SUCCESS"
    assert target.current_version() == v0 + 1
    assert target.snapshot().files == before.files
    assert last_committed_epoch(manifest) == 1


def test_sparse_shuffle_epoch_precollapses_in_pruned_plan(spark, warehouse, monkeypatch):
    """``shuffle`` is the pruned single-shuffle plan plus an argmax pre-
    collapse: a sparse tail that sends most of its events to one hot key
    never calls merge_apply, every
    untouched bucket keeps its exact file list, and the state and DLQ equal
    the oracle's."""
    import importlib

    from wage_etl_spark.lake.table import bucket_expr

    # by module object: the package re-exports a function named ``replay``
    R = importlib.import_module("wage_etl_spark.streaming.replay")

    def no_merge_apply(*a, **k):
        raise AssertionError("the shuffle strategy must not call merge_apply")

    monkeypatch.setattr(R, "merge_apply", no_merge_apply)
    hot = (F.col("epoch") == 1) & (F.col("event_seq") % 3 != 0)
    ev = (
        _sparse_stream(spark, tail=24)
        .withColumn("repo", F.when(hot, F.lit("hot-repo")).otherwise(F.col("repo")))
        .withColumn("path", F.when(hot, F.lit("hot/key.py")).otherwise(F.col("path")))
    )
    assert ev.filter(hot).count() >= 8
    src = EpochSource(ev)
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=32, dedup_strategy="shuffle")
    replay(spark, dataclasses.replace(cfg, max_epochs=1), src)
    target, dlq, manifest = open_tables(spark, cfg)
    before = target.snapshot()

    res = replay(spark, cfg, src)
    assert [r["epoch"] for r in res] == [1]
    epoch_buckets = {
        r["_b"]
        for r in ev.filter("epoch = 1").select(bucket_expr(["repo", "path"], 32).alias("_b")).collect()
    }
    assert 0 < len(epoch_buckets) < 32
    after = target.snapshot()
    for b in set(before.files) | set(after.files):
        if int(b) not in epoch_buckets:
            assert after.files.get(b) == before.files.get(b), b

    oracle_state, _, n_quar = replay_oracle([r.asDict() for r in ev.collect()])
    report = verify_state(spark, target, sha_map(oracle_state))
    assert report["equal"], {k: report[k] for k in ("n_missing", "n_extra", "n_mismatched")}
    assert dlq.read().count() == n_quar


def test_path_epoch_is_sized_from_its_own_bytes(spark, tmp_path):
    """A path-backed epoch reads its own ``epoch=`` directory, so the size
    estimate that sizes the kernel's shuffle is the epoch's bytes, not the
    whole event log's; its rows and schema are the filtered read's."""
    ev = synthesize_events(spark, n_events=200_000, n_keys=5_000, n_epochs=1)
    ev = ev.withColumn("epoch", F.when(F.col("event_seq") < 15, 1).otherwise(0).cast("long"))
    path = str(tmp_path / "events")
    ev.write.partitionBy("epoch").parquet(path)
    src = EpochSource.from_parquet(spark, path)

    def est(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    one = src.epochs(1, 1)
    assert est(src._df.filter("epoch = 1")) > 1 << 20  # the whole directory
    assert est(one) < 1 << 20
    assert one.schema == src._df.schema
    assert sorted(map(repr, one.collect())) == sorted(map(repr, src._df.filter("epoch = 1").collect()))
    assert one.count() == 15
    # a range with no directory falls back to the (empty) filtered read
    assert src.epochs(5, 6).count() == 0
