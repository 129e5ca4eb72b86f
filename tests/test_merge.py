"""MERGE-apply: upsert/delete semantics, bucket pruning, idempotent
re-application, schema evolution through merge."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wage_etl_spark.lake.table import LakeTable, bucket_expr
from wage_etl_spark.operators.merge import LWWKernel, merge_apply
from wage_etl_spark.streaming.replay import TARGET_SCHEMA, KEY_COLS, ORDERING_COLS

from tests.conftest import next_job_id

SRC_SCHEMA = (
    "repo string, path string, commit string, event_seq long, lang string, "
    "content string, op string"
)


def make_target(spark, warehouse, nb=8):
    return LakeTable.create(
        spark, f"{warehouse}/repo_code", TARGET_SCHEMA, KEY_COLS, num_buckets=nb
    )


def _src(spark, rows):
    return spark.createDataFrame(rows, SRC_SCHEMA)


def _state(t):
    return {
        (r["repo"], r["path"]): (r["commit"], r["event_seq"], r["content"])
        for r in t.read().collect()
    }


def test_insert_update_delete(spark, warehouse):
    t = make_target(spark, warehouse)
    merge_apply(t, _src(spark, [
        ("r1", "a", "1" * 40, 1, "py", "v1", "I"),
        ("r1", "b", "1" * 40, 2, "py", "w1", "I"),
    ]), ORDERING_COLS)
    merge_apply(t, _src(spark, [
        ("r1", "a", "2" * 40, 3, "py", "v2", "U"),   # update
        ("r1", "b", "2" * 40, 4, "py", None, "D"),   # delete
        ("r1", "c", "2" * 40, 5, "py", "x1", "U"),   # upsert-insert (never inserted)
    ]), ORDERING_COLS)
    s = _state(t)
    assert set(s) == {("r1", "a"), ("r1", "c")}
    assert s[("r1", "a")][2] == "v2"


def test_stale_event_loses_to_target(spark, warehouse):
    t = make_target(spark, warehouse)
    merge_apply(t, _src(spark, [("r1", "a", "5" * 40, 10, "py", "new", "I")]), ORDERING_COLS)
    merge_apply(t, _src(spark, [("r1", "a", "3" * 40, 2, "py", "old", "U")]), ORDERING_COLS)
    assert _state(t)[("r1", "a")][2] == "new"


def test_reapply_same_batch_is_idempotent(spark, warehouse):
    t = make_target(spark, warehouse)
    batch = [("r1", "a", "4" * 40, 7, "py", "vv", "I"), ("r2", "z", "4" * 40, 8, "py", None, "D")]
    merge_apply(t, _src(spark, batch), ORDERING_COLS)
    before = _state(t)
    merge_apply(t, _src(spark, batch), ORDERING_COLS)
    assert _state(t) == before


def test_bucket_pruning_untouched_files_carry_over(spark, warehouse):
    """An epoch touching few keys must not rewrite unrelated buckets."""
    t = make_target(spark, warehouse, nb=16)
    rows = [(f"r{i}", f"p{i}", "1" * 40, i, "py", f"c{i}", "I") for i in range(200)]
    merge_apply(t, _src(spark, rows), ORDERING_COLS)
    snap1 = t.snapshot()
    merge_apply(t, _src(spark, [("r5", "p5", "2" * 40, 999, "py", "new", "U")]), ORDERING_COLS)
    snap2 = t.snapshot()
    changed = {b for b in snap2.files if snap2.files[b] != snap1.files.get(b)}
    assert len(changed) == 1  # exactly the winner's bucket
    # and state is still complete
    assert t.read().count() == 200
    assert _state(t)[("r5", "p5")][2] == "new"


def test_schema_evolution_through_merge(spark, warehouse):
    t = make_target(spark, warehouse)
    merge_apply(t, _src(spark, [("r1", "a", "1" * 40, 1, "py", "v1", "I")]), ORDERING_COLS)
    evolved = spark.createDataFrame(
        [("r1", "b", "2" * 40, 2, "py", "v2", "I", "py-3")],
        SRC_SCHEMA + ", lang_version string",
    )
    merge_apply(t, evolved, ORDERING_COLS)
    df = t.read()
    assert "lang_version" in df.columns
    got = {r["path"]: r["lang_version"] for r in df.collect()}
    assert got == {"a": None, "b": "py-3"}


def test_merge_empty_source_is_noop(spark, warehouse):
    t = make_target(spark, warehouse)
    merge_apply(t, _src(spark, [("r1", "a", "1" * 40, 1, "py", "v1", "I")]), ORDERING_COLS)
    before = t.snapshot().files
    snap, rows, buckets = merge_apply(t, _src(spark, []), ORDERING_COLS)
    assert rows == 0 and buckets == {} and snap.files == before


def test_narrow_numeric_key_buckets_against_table_type(spark, warehouse):
    """ADVICE r2: xxhash64(int) != xxhash64(long), so winners arriving with a
    NARROWER numeric key type than the table must be cast up before bucketing
    or they land in (and prune against) the wrong buckets."""
    from pyspark.sql.types import StructType

    t = LakeTable.create(
        spark, f"{warehouse}/num_key",
        StructType.fromDDL("k long, v string, ver long"), ["k"], num_buckets=8,
    )
    merge_apply(
        t,
        spark.createDataFrame([(i, f"v{i}", 1) for i in range(50)],
                              "k long, v string, ver long, op string"
                              .replace(", op string", "")).withColumn("op", F.lit("I")),
        ["ver"],
    )
    # second epoch arrives with k as INT (narrower) — must still update in place
    narrow = spark.createDataFrame(
        [(5, "updated", 2, "U")], "k int, v string, ver long, op string"
    )
    merge_apply(t, narrow, ["ver"])
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert len(rows) == 50, "narrow-key merge must not duplicate keys into wrong buckets"
    assert rows[5] == "updated"
    # bucket purity: every file's rows hash to its bucket under the LONG type
    from wage_etl_spark.lake.table import bucket_expr
    snap = t.snapshot()
    df = t.read().withColumn("_b", bucket_expr(["k"], snap.num_buckets))
    import os as _os
    for b, fs in snap.files.items():
        for f in fs:
            got = {
                r["_b"]
                for r in spark.read.parquet(_os.path.join(t.root, f))
                .withColumn("_b", bucket_expr(["k"], snap.num_buckets))
                .select("_b").distinct().collect()
            }
            assert got <= {int(b)}, f"bucket {b} file contains foreign keys {got}"


def test_merge_is_single_shuffle(spark, warehouse, monkeypatch):
    """VERDICT r2 #5: the MERGE write must move rows through exactly ONE
    exchange — the repartition on the bucket slot token. The LWW winner
    resolution is a bucket-local sort (the window partitions by that
    token), and the partitioned write adds no re-shuffle. Counting Exchange
    nodes is noise-immune proof."""
    from pyspark.sql.readwriter import DataFrameWriter

    t = make_target(spark, warehouse)
    merge_apply(t, _src(spark, [
        (f"r{i}", f"p{i}", "1" * 40, i, "py", f"c{i}", "I") for i in range(100)
    ]), ORDERING_COLS)

    captured = {}
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        captured["plan"] = self._df._jdf.queryExecution().sparkPlan().toString()
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    merge_apply(
        t,
        _src(spark, [("r5", "p5", "2" * 40, 999, "py", "new", "U")]),
        ORDERING_COLS,
    )
    n_exchanges = captured["plan"].count("Exchange")
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{captured['plan']}"
    assert "Window" in captured["plan"] or "Sort" in captured["plan"]


def test_sparse_merge_is_four_jobs_and_pruned(spark, warehouse):
    """A 10-row merge_apply into a 32-bucket table runs the epoch apply's
    pruned plan: at most 4 Spark jobs (the per-bucket count and the write,
    each a map stage plus a result stage), every untouched bucket keeps its
    exact file list, and the state is the expected upsert/delete result."""
    t = make_target(spark, warehouse, nb=32)
    boot = [(f"r{i}", f"p{i}", "1" * 40, i, "py", f"c{i}", "I") for i in range(500)]
    merge_apply(t, _src(spark, boot), ORDERING_COLS)
    before = t.snapshot().files

    src = _src(spark, [
        *[(f"r{i}", f"p{i}", "2" * 40, 1000 + i, "py", f"new{i}", "U") for i in range(6)],
        ("r6", "p6", "2" * 40, 1006, "py", None, "D"),
        ("r7", "p7", "0" * 40, 0, "py", "stale", "U"),  # loses to the target row
        ("x1", "q1", "2" * 40, 1, "py", "ins1", "I"),
        ("x2", "q2", "2" * 40, 1, "py", "ins2", "I"),
    ])
    touched = {
        int(r["_b"]) for r in src.select(
            bucket_expr(KEY_COLS, 32).alias("_b")
        ).collect()
    }
    j0 = next_job_id(spark)
    snap, rows, per_bucket = merge_apply(t, src, ORDERING_COLS)
    jobs = next_job_id(spark) - j0
    assert jobs <= 4, f"10-row merge_apply ran {jobs} Spark jobs"

    assert set(map(int, per_bucket)) <= touched and rows == sum(per_bucket.values())
    for b, fs in before.items():
        if int(b) not in touched:
            assert snap.files.get(b) == fs, f"untouched bucket {b} was rewritten"

    expected = {(f"r{i}", f"p{i}"): f"c{i}" for i in range(500)}
    expected.update({(f"r{i}", f"p{i}"): f"new{i}" for i in range(6)})
    del expected[("r6", "p6")]
    expected.update({("x1", "q1"): "ins1", ("x2", "q2"): "ins2"})
    assert {k: v[2] for k, v in _state(t).items()} == expected
    assert t.read().count() == len(expected)


def impure_files(spark, table) -> list[tuple[str, int]]:
    """(file, bucket) for every file of the table's current snapshot holding
    a key that hashes (``bucket_expr``) to another bucket than the file's
    own — empty when every file is bucket-pure. One Spark job."""
    from urllib.parse import urlparse

    snap = table.snapshot()
    bucket_of = {
        os.path.join(table.root, f): int(b) for b, fs in snap.files.items() for f in fs
    }
    rows = (
        spark.read.parquet(*bucket_of)
        .select(
            F.input_file_name().alias("f"),
            bucket_expr(snap.key_cols, snap.num_buckets).alias("b"),
        )
        .distinct()
        .collect()
    )
    return [
        (r["f"], r["b"]) for r in rows if bucket_of[urlparse(r["f"]).path] != r["b"]
    ]


def spy_write_plans(monkeypatch, under: str) -> list[str]:
    """Physical plans of the parquet writes whose path contains ``under``
    (the kernel writes into ``_epoch_tmp``/``_merge_tmp`` dirs)."""
    from pyspark.sql.readwriter import DataFrameWriter

    plans: list[str] = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        if under in path:
            plans.append(self._df._jdf.queryExecution().sparkPlan().toString())
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


def shuffle_widths(plan: str) -> list[int]:
    """Partition counts of the plan's ``_pt`` repartitions."""
    import re

    return [int(n) for n in re.findall(r"hashpartitioning\(_pt#\d+, (\d+)\)", plan)]


def test_sparse_epoch_write_runs_one_wave(spark, warehouse, monkeypatch):
    """A sparse ``auto`` epoch touching more buckets than the session has
    cores runs its one write shuffle on ``defaultParallelism`` reducers, not
    one per touched bucket (its input is far below the advisory partition
    size); the buckets fold onto them exactly, so every file stays
    bucket-pure and the state equals the oracle."""
    from wage_etl_spark.sources.events import EpochSource
    from wage_etl_spark.sources.synth import synthesize_events
    from wage_etl_spark.streaming.replay import ReplayConfig, open_tables, replay, verify_state

    from tests.oracle import replay_oracle, sha_map

    boot = 3000
    ev = synthesize_events(
        spark, n_events=boot + 40, n_keys=2000, n_epochs=1, invalid_frac=0.03
    ).withColumn("epoch", F.when(F.col("event_seq") < boot, 0).otherwise(1).cast("long"))
    src = EpochSource(ev)
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=32)
    assert cfg.dedup_strategy == "auto"
    replay(spark, ReplayConfig(warehouse=warehouse, num_buckets=32, max_epochs=1), src)

    p = spark.sparkContext.defaultParallelism
    touched = {
        r["_b"]
        for r in ev.filter("epoch = 1").select(bucket_expr(KEY_COLS, 32).alias("_b")).collect()
    }
    assert p < len(touched) < 32, (p, touched)

    plans = spy_write_plans(monkeypatch, "_epoch_tmp")
    (res,) = replay(spark, cfg, src)
    (plan,) = plans
    assert plan.count("Exchange") == 1, plan
    assert shuffle_widths(plan) == [p], plan
    assert res["reducers"] == p and "phases" in res

    target, dlq, _ = open_tables(spark, cfg)
    assert impure_files(spark, target) == []
    oracle_state, _, n_quar = replay_oracle([r.asDict() for r in ev.collect()])
    report = verify_state(spark, target, sha_map(oracle_state))
    assert report["equal"], {k: report[k] for k in ("n_missing", "n_extra", "n_mismatched")}
    assert dlq.read().count() == n_quar


def test_unknown_size_source_keeps_full_width(spark, warehouse, monkeypatch):
    """A ``merge_apply`` source built by ``createDataFrame`` from Python
    rows has no size estimate (Long.MaxValue), so the shuffle keeps one
    reducer per touched bucket (times the salt ways) and stays bucket-pure."""
    from wage_etl_spark.plans.partitioning import salt_ways

    t = make_target(spark, warehouse, nb=32)
    merge_apply(t, _src(spark, [
        (f"r{i}", f"p{i}", "1" * 40, i, "py", f"c{i}", "I") for i in range(300)
    ]), ORDERING_COLS)
    src = _src(spark, [
        (f"r{i}", f"p{i}", "2" * 40, 1000 + i, "py", f"new{i}", "U") for i in range(12)
    ])
    touched = {
        int(r["_b"]) for r in src.select(bucket_expr(KEY_COLS, 32).alias("_b")).collect()
    }
    assert len(touched) > spark.sparkContext.defaultParallelism

    plans = spy_write_plans(monkeypatch, "_merge_tmp")
    merge_apply(t, src, ORDERING_COLS)
    (plan,) = plans
    assert plan.count("Exchange") == 1, plan
    assert shuffle_widths(plan) == [len(touched) * salt_ways(spark, 32)], plan
    assert impure_files(spark, t) == []
    assert {k: v[2] for k, v in _state(t).items() if k[0] == "r3"} == {("r3", "p3"): "new3"}


def test_row_outside_touched_set_is_refused(spark, warehouse, monkeypatch):
    """A source whose second read puts a row in a bucket the count did not
    see: the write gives that row a null slot (not slot -1, which would index
    the token array at 0 or from its end), and the splice refuses the stray
    bucket before anything is committed."""
    t = make_target(spark, warehouse)
    boot = [(f"r{i}", f"p{i}", "1" * 40, i, "py", f"c{i}", "I") for i in range(40)]
    merge_apply(t, _src(spark, boot), ORDERING_COLS)
    version, before = t.current_version(), _state(t)

    count = LWWKernel.bucket_counts

    def drop_one_bucket(self, source, *by):
        counts = count(self, source, *by)
        dropped = min(counts)
        return {k: n for k, n in counts.items() if k != dropped}

    monkeypatch.setattr(LWWKernel, "bucket_counts", drop_one_bucket)
    upd = [(f"r{i}", f"p{i}", "2" * 40, 100 + i, "py", f"n{i}", "U") for i in range(40)]
    with pytest.raises(ValueError, match="outside the touched set"):
        merge_apply(t, _src(spark, upd), ORDERING_COLS)
    assert t.current_version() == version
    assert _state(t) == before
