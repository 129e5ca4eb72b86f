"""Schema evolution mid-stream: a column appears in later epochs and must be
merged into the target schema (reference analog: migration V008 adding a
column, /root/reference/sql/migrations/V008__ALTER_county_fips_and_add_year.sql)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wage_etl_spark.sources.events import EpochSource
from wage_etl_spark.sources.synth import synthesize_events
from wage_etl_spark.streaming.replay import ReplayConfig, open_tables, replay, verify_state

from tests.oracle import replay_oracle, sha_map

# enough keys that some final winners predate the evolution epoch (their
# lang_version must stay null) while later epochs update others
SYNTH = dict(n_events=1200, n_keys=400, n_epochs=4, invalid_frac=0.02, evolve_from_epoch=2)


def test_column_appears_mid_stream(spark, warehouse):
    ev = synthesize_events(spark, **SYNTH)
    src = EpochSource(ev)
    # the per-epoch source really drops the column before the evolution point
    assert "lang_version" not in src.epoch(0).columns
    assert "lang_version" in src.epoch(2).columns

    cfg = ReplayConfig(warehouse=warehouse, num_buckets=8)
    replay(spark, cfg, src)
    target, dlq, manifest = open_tables(spark, cfg)
    df = target.read()
    assert "lang_version" in df.columns

    # sha256 state still matches the oracle
    oracle_state, *_ = replay_oracle([r.asDict() for r in ev.collect()])
    assert verify_state(spark, target, sha_map(oracle_state))["equal"]

    # lang_version values match the oracle per key
    got = {
        (r["repo"], r["path"]): r["lang_version"]
        for r in df.select("repo", "path", "lang_version").collect()
    }
    want = {k: v["lang_version"] for k, v in oracle_state.items()}
    assert got == want
    # and at least one key written before the evolution point carries null
    assert any(v is None for v in got.values())
    assert any(v is not None for v in got.values())


def test_rename_after_evolution(spark, warehouse):
    """Renamed columns (north star: 'added/renamed columns') — rename the
    evolved column and reads remap. Replaying more epochs onto the renamed
    table is refused (test_replay_onto_renamed_columns_fails_loudly)."""
    ev = synthesize_events(spark, **SYNTH)
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=8)
    replay(spark, cfg, EpochSource(ev))
    target, *_ = open_tables(spark, cfg)
    target.rename_column("lang_version", "language_version")
    df = target.read()
    assert "language_version" in df.columns and "lang_version" not in df.columns
    assert df.filter(F.col("language_version").isNotNull()).count() > 0


@pytest.mark.parametrize("old,new", [("lang", "language"), ("lang_version", "language_version")])
def test_replay_onto_renamed_columns_fails_loudly(spark, warehouse, old, new):
    """Change events carry the original column names, so replay/apply_epoch
    onto a target with renamed columns raises a clear ValueError before the
    DLQ, target or manifest gets a snapshot."""
    from wage_etl_spark.lake.manifest import next_run_id
    from wage_etl_spark.streaming.replay import apply_epoch

    ev = synthesize_events(spark, **SYNTH)
    src = EpochSource(ev)
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=8)
    replay(spark, ReplayConfig(warehouse=warehouse, num_buckets=8, max_epochs=3), src)
    target, dlq, manifest = open_tables(spark, cfg)
    target.rename_column(old, new)
    versions = [t.current_version() for t in (target, dlq, manifest)]

    with pytest.raises(ValueError, match="renamed columns"):
        replay(spark, cfg, src)
    with pytest.raises(ValueError, match="renamed columns"):
        apply_epoch(spark, cfg, target, dlq, manifest, src.epoch(3), 3, next_run_id(manifest))
    assert [t.current_version() for t in (target, dlq, manifest)] == versions


def _mk_events(spark, rows, seq_type="long", extra_cols=""):
    schema = (
        "op string, repo string, path string, commit string, "
        f"event_seq {seq_type}, lang string, content string, epoch long" + extra_cols
    )
    return spark.createDataFrame(rows, schema)


def _commit_hex(i: int) -> str:
    return f"{i:040x}"


def test_type_widening_mid_stream(spark, warehouse):
    """V008 analog that actually CHANGES a type: the table starts with
    event_seq int; a later epoch delivers event_seq long plus an added
    column. The schema widens in place (old narrow files stay, reads
    up-cast), LWW stays correct across the boundary, and the final sha256
    state equals the oracle."""
    import os

    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from wage_etl_spark.lake.table import LakeTable
    from wage_etl_spark.streaming.replay import TARGET_SCHEMA, apply_epoch

    narrow = StructType(
        [
            StructField(f.name, IntegerType() if f.name == "event_seq" else f.dataType)
            for f in TARGET_SCHEMA.fields
        ]
    )
    cfg = ReplayConfig(warehouse=warehouse, num_buckets=4)
    LakeTable.create(
        spark, os.path.join(warehouse, "repo_code"), narrow,
        key_cols=["repo", "path"], num_buckets=4,
    )
    target, dlq, manifest = open_tables(spark, cfg)
    assert dict((f.name, f.dataType) for f in target.snapshot().schema.fields)[
        "event_seq"
    ] == IntegerType()

    e0 = _mk_events(
        spark,
        [
            ("I", "r1", "a.py", _commit_hex(1), 1, "py", "v1", 0),
            ("I", "r1", "b.py", _commit_hex(1), 2, "py", "b1", 0),
        ],
        seq_type="int",
    )
    apply_epoch(spark, cfg, target, dlq, manifest, e0, epoch=0, run_id=1)

    # epoch 1: event_seq arrives as long (widening) + a new column
    e1 = _mk_events(
        spark,
        [
            ("U", "r1", "a.py", _commit_hex(2), 2**40, "py", "v2", 1, "3.12"),
            ("I", "r1", "c.py", _commit_hex(2), 3, "py", "c1", 1, None),
        ],
        seq_type="long",
        extra_cols=", lang_version string",
    )
    apply_epoch(spark, cfg, target, dlq, manifest, e1, epoch=1, run_id=2)

    snap_types = {f.name: f.dataType for f in target.snapshot().schema.fields}
    assert snap_types["event_seq"] == LongType()
    assert "lang_version" in snap_types

    rows = {r["path"]: r for r in target.read().collect()}
    assert rows["a.py"]["content"] == "v2" and rows["a.py"]["event_seq"] == 2**40
    assert rows["b.py"]["event_seq"] == 2  # pre-widening row reads up-cast
    import hashlib

    oracle = {
        ("r1", "a.py"): hashlib.sha256(b"v2").hexdigest(),
        ("r1", "b.py"): hashlib.sha256(b"b1").hexdigest(),
        ("r1", "c.py"): hashlib.sha256(b"c1").hexdigest(),
    }
    assert verify_state(spark, target, oracle)["equal"]


def test_unsafe_type_change_rejected(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    import pytest

    from wage_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        StructType([StructField("k", StringType()), StructField("v", LongType())]),
        key_cols=["k"], num_buckets=2,
    )
    bad = spark.createDataFrame([("a", "not-a-number")], "k string, v string")
    with pytest.raises(ValueError, match="unsafe type change"):
        t.append(bad)

    # narrower incoming is fine: cast up, schema unchanged
    t.append(spark.createDataFrame([("a", 1)], "k string, v int"))
    assert {f.name: f.dataType for f in t.snapshot().schema.fields}["v"] == LongType()


def test_key_column_widening_rejected(spark, tmp_path):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    import pytest

    from wage_etl_spark.lake.table import LakeTable

    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        StructType([StructField("k", IntegerType()), StructField("v", StringType())]),
        key_cols=["k"], num_buckets=2,
    )
    with pytest.raises(ValueError, match="key column"):
        t.append(spark.createDataFrame([(2**40, "x")], "k long, v string"))
