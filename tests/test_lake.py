"""LakeTable snapshot-format tests: atomic commits, schema evolution,
rename, rollback, time travel, GC."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from wage_etl_spark.lake.table import LakeTable, SnapshotConflict

SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("v", LongType()),
    ]
)


def make(spark, warehouse, nb=4):
    return LakeTable.create(spark, f"{warehouse}/t", SCHEMA, ["repo", "path"], num_buckets=nb)


def test_create_empty_read(spark, warehouse):
    t = make(spark, warehouse)
    assert t.read().count() == 0
    assert t.current_version() == 1


def test_append_and_read(spark, warehouse):
    t = make(spark, warehouse)
    df = spark.createDataFrame([("a", "x", 1), ("b", "y", 2)], SCHEMA)
    t.append(df)
    got = {(r["repo"], r["path"], r["v"]) for r in t.read().collect()}
    assert got == {("a", "x", 1), ("b", "y", 2)}


def test_append_accumulates_and_time_travel(spark, warehouse):
    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("a", "x", 1)], SCHEMA))
    v2 = t.current_version()
    t.append(spark.createDataFrame([("b", "y", 2)], SCHEMA))
    assert t.read().count() == 2
    assert t.read(version=v2).count() == 1  # time travel


def test_overwrite(spark, warehouse):
    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("a", "x", 1)], SCHEMA))
    t.overwrite(spark.createDataFrame([("c", "z", 3)], SCHEMA))
    got = [(r["repo"], r["v"]) for r in t.read().collect()]
    assert got == [("c", 3)]


def test_schema_evolution_on_append(spark, warehouse):
    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("a", "x", 1)], SCHEMA))
    evolved = spark.createDataFrame([("b", "y", 2, "extra")], "repo string, path string, v long, note string")
    t.append(evolved)
    df = t.read()
    assert "note" in df.columns
    rows = {r["repo"]: r["note"] for r in df.collect()}
    assert rows == {"a": None, "b": "extra"}


def test_rename_column_metadata_only(spark, warehouse):
    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("a", "x", 1)], SCHEMA))
    files_before = set(t.snapshot().all_files())
    t.rename_column("v", "version")
    assert set(t.snapshot().all_files()) == files_before  # no rewrite
    df = t.read()
    assert "version" in df.columns and "v" not in df.columns
    assert df.first()["version"] == 1
    # writes after a rename land correctly too
    t.append(spark.createDataFrame([("b", "y", 2)], "repo string, path string, version long"))
    got = {r["repo"]: r["version"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 2}


def test_rollback(spark, warehouse):
    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("a", "x", 1)], SCHEMA))
    v_good = t.current_version()
    t.append(spark.createDataFrame([("b", "y", 2)], SCHEMA))
    t.rollback_to(v_good)
    assert [r["repo"] for r in t.read().collect()] == ["a"]
    # history is preserved (rollback is a new snapshot, not an erasure)
    assert t.current_version() > v_good


def test_snapshot_conflict(spark, warehouse):
    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("a", "x", 1)], SCHEMA))
    # a stale writer that computed an already-committed version must fail
    stale = t.snapshot()  # same version as committed
    with pytest.raises(SnapshotConflict):
        t._write_snapshot(stale)


def test_bucket_layout_is_key_pure(spark, warehouse):
    """Every key lands in exactly one bucket dir across commits."""
    t = make(spark, warehouse, nb=8)
    t.append(spark.createDataFrame([("a", "x", 1), ("b", "y", 1)], SCHEMA))
    t.append(spark.createDataFrame([("a", "x", 2), ("b", "y", 2)], SCHEMA))
    snap = t.snapshot()
    for b, files in snap.files.items():
        import os

        for f in files:
            df = spark.read.parquet(os.path.join(t.root, f))
            buckets = (
                df.select(F.pmod(F.xxhash64("repo", "path"), F.lit(8)).alias("b"))
                .distinct()
                .collect()
            )
            assert {r["b"] for r in buckets} <= {int(b)}


def test_expire_snapshots_gc(spark, warehouse):
    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("a", "x", 1)], SCHEMA))
    t.overwrite(spark.createDataFrame([("b", "y", 2)], SCHEMA))
    t.overwrite(spark.createDataFrame([("c", "z", 3)], SCHEMA))
    deleted = t.expire_snapshots(keep_last=1)
    assert deleted >= 1
    assert [r["repo"] for r in t.read().collect()] == ["c"]


def test_properties_and_latest_version_where(spark, warehouse):
    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("a", "x", 1)], SCHEMA), properties={"epoch": "0"})
    v_e0 = t.current_version()
    t.append(spark.createDataFrame([("b", "y", 2)], SCHEMA), properties={"epoch": "1"})
    assert t.latest_version_where(lambda p: p.get("epoch") == "0") == v_e0


def test_rename_key_column_keeps_merging(spark, warehouse):
    """ADVICE fix: renaming a KEY column must update key_cols so subsequent
    merges resolve the (new) logical name; bucket assignment is unchanged
    because the physical column feeding xxhash64 is the same."""
    from wage_etl_spark.lake.table import bucket_expr
    from wage_etl_spark.operators.merge import merge_apply

    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("r1", "a", 1), ("r1", "b", 1)], SCHEMA))
    old_files = dict(t.snapshot().files)
    t.rename_column("path", "file_path")
    assert t.snapshot().key_cols == ["repo", "file_path"]

    winners = spark.createDataFrame(
        [("U", "r1", "a", 2), ("I", "r1", "c", 1)],
        "op string, repo string, file_path string, v long",
    )
    merge_apply(t, winners, ordering_cols=["v"])
    rows = {r["file_path"]: r["v"] for r in t.read().collect()}
    assert rows == {"a": 2, "b": 1, "c": 1}
    # bucket purity preserved: carried-over buckets were not rewritten
    snap = t.snapshot()
    untouched = [b for b in old_files if old_files[b] == snap.files.get(b)]
    winner_buckets = {
        r["_b"] for r in winners.select(bucket_expr(snap.key_cols, snap.num_buckets).alias("_b")).collect()
    }
    assert set(untouched) >= {b for b in old_files if int(b) not in winner_buckets}
    assert all(int(b) in winner_buckets for b in set(snap.files) - set(old_files))
    assert t.read().count() == 3 and snap.key_cols == ["repo", "file_path"]


def test_overwrite_with_files_refuses_buckets_outside_touched(spark, warehouse, tmp_path):
    """A pruned splice must never replace a bucket whose rows were not read:
    a written bucket outside ``touched`` raises before anything moves or
    commits."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("r1", "a", 1), ("r2", "b", 1)], SCHEMA))
    before = t.snapshot()
    stray = str(tmp_path / "stray.parquet")
    pq.write_table(pa.table({"repo": ["r9"], "path": ["z"], "v": [2]}), stray)
    with pytest.raises(ValueError, match=r"buckets \[3\] .* outside the touched set \[1\]"):
        t.overwrite_with_files({"3": [stray]}, touched={1})
    assert t.current_version() == before.version and os.path.exists(stray)


def test_snapshot_write_is_crash_atomic(spark, warehouse, tmp_path):
    """A leftover truncated temp file must never wedge history()/resume,
    and a committed snap file is always complete JSON (fsync+link)."""
    import json
    import os

    t = make(spark, warehouse)
    t.append(spark.createDataFrame([("r1", "a", 1)], SCHEMA))
    # simulate a writer that crashed mid-write of the NEXT snapshot
    torn = os.path.join(t.meta_dir, ".snap-deadbeef.tmp")
    with open(torn, "w") as f:
        f.write('{"version": 99, "truncat')  # torn JSON
    assert [s.version for s in t.history()] == [1, 2]
    assert t.current_version() == 2
    # commits still work and every snap-*.json parses
    t.append(spark.createDataFrame([("r1", "b", 1)], SCHEMA))
    for name in os.listdir(t.meta_dir):
        if name.startswith("snap-") and name.endswith(".json"):
            json.load(open(os.path.join(t.meta_dir, name)))


def test_rollback_across_rebucket_restores_bucket_spec(spark, warehouse):
    """ADVICE fix (round 4): rollback_to must restore the TARGET snapshot's
    num_buckets/key_cols, not inherit the current one. Rolling back across a
    rebucket boundary previously produced a snapshot whose files were laid
    out under the old bucket count while num_buckets reported the new one —
    merge_apply would then prune/splice the wrong buckets and corrupt state."""
    from pyspark.sql import functions as F

    from wage_etl_spark.operators.merge import merge_apply
    from wage_etl_spark.streaming.replay import KEY_COLS, ORDERING_COLS, TARGET_SCHEMA

    t = LakeTable.create(spark, f"{warehouse}/rbk", TARGET_SCHEMA, KEY_COLS, num_buckets=4)
    rows = [
        (f"r{i % 7}", f"p{i}", "1" * 40, i, "py", f"c{i}", None, 0, 1, None)
        for i in range(100)
    ]
    t.append(spark.createDataFrame(rows, TARGET_SCHEMA))
    v_pre = t.current_version()
    t.rebucket(16)
    assert t.snapshot().num_buckets == 16

    snap = t.rollback_to(v_pre)
    # the restored snapshot's spec matches the layout of its files
    assert snap.num_buckets == 4 and snap.key_cols == KEY_COLS
    assert t.read().count() == 100

    # merge against the rolled-back state lands in the right (old-spec) bucket
    src = spark.createDataFrame(
        [("r1", "p1", "9" * 40, 999, "py", "updated", "U")],
        "repo string, path string, commit string, event_seq long, lang string, "
        "content string, op string",
    )
    merge_apply(t, src, ORDERING_COLS)
    assert t.read().count() == 100
    assert {
        r["content"] for r in t.read().filter(F.col("path") == "p1").collect()
    } == {"updated"}
    # every key still resolves to exactly one row (bucket purity held)
    dupes = (
        t.read().groupBy(*KEY_COLS).count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_rebucket_spec_evolution(spark, warehouse):
    """Bucket-spec evolution: rewrite 4 -> 16 buckets; state identical,
    new layout bucket-pure under the new spec, subsequent MERGE prunes
    against the new spec, and time travel still reads the old layout."""
    import os as _os

    from pyspark.sql import functions as F

    from wage_etl_spark.lake.table import bucket_expr
    from wage_etl_spark.operators.merge import merge_apply
    from wage_etl_spark.streaming.replay import KEY_COLS, ORDERING_COLS, TARGET_SCHEMA

    t = LakeTable.create(spark, f"{warehouse}/rb", TARGET_SCHEMA, KEY_COLS, num_buckets=4)
    rows = [
        (f"r{i % 7}", f"p{i}", "1" * 40, i, "py", f"c{i}", None, 0, 1, None)
        for i in range(200)
    ]
    t.append(spark.createDataFrame(rows, TARGET_SCHEMA))
    v_old = t.current_version()
    before = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}

    snap = t.rebucket(16)
    assert snap.num_buckets == 16 and t.snapshot().num_buckets == 16
    after = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert after == before
    # bucket purity under the NEW spec
    for b, fs in snap.files.items():
        for f in fs:
            got = {
                r["_b"]
                for r in spark.read.parquet(_os.path.join(t.root, f))
                .withColumn("_b", bucket_expr(KEY_COLS, 16))
                .select("_b").distinct().collect()
            }
            assert got <= {int(b)}
    # merge after rebucket prunes against the new spec and updates in place
    src = spark.createDataFrame(
        [("r1", "p1", "9" * 40, 999, "py", "updated", "U")],
        "repo string, path string, commit string, event_seq long, lang string, "
        "content string, op string",
    )
    snap1 = t.snapshot()
    merge_apply(t, src, ORDERING_COLS)
    snap2 = t.snapshot()
    changed = {b for b in snap2.files if snap2.files[b] != snap1.files.get(b)}
    assert len(changed) == 1
    assert {r["content"] for r in t.read().filter(F.col("path") == "p1").collect()} == {"updated"}
    assert t.read().count() == 200
    # time travel: the pre-rebucket version still reads through the old spec
    assert t.read(version=v_old).count() == 200
