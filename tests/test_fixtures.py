"""fixture_df: literal fixture tables must match the classic list path
value-for-value and execute as a JVM local relation (one partition, no
python-worker stages — the round-6 fix for the serialized-python-partition
cost of createDataFrame(list).coalesce(1))."""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

import pytest

from wage_etl_spark.sources.fixtures import fixture_df

ROWS = [
    (1, "$18.71", b"\x00\x01"),
    (2, None, b""),
    (3, "", None),
    (None, "  x  ", b"\xff" * 4),
]
DDL = "id int, raw string, blob binary"


def test_values_match_list_path(spark):
    a = fixture_df(spark, ROWS, DDL)
    b = spark.createDataFrame(ROWS, DDL)
    ra = sorted(map(repr, (tuple(r) for r in a.collect())))
    rb = sorted(map(repr, (tuple(r) for r in b.collect())))
    assert ra == rb


def test_struct_type_schema_and_bytearray(spark):
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("raw", StringType()),
            StructField("blob", BinaryType()),
        ]
    )
    rows = [(i, f"r{i}", bytearray(b"ab" * i)) for i in range(3)]
    df = fixture_df(spark, rows, schema)
    got = {r.id: (r.raw, bytes(r.blob)) for r in df.collect()}
    assert got == {0: ("r0", b""), 1: ("r1", b"ab"), 2: ("r2", b"abab")}


def test_single_partition_and_no_python_stage(spark):
    df = fixture_df(spark, ROWS, DDL)
    assert df.rdd.getNumPartitions() == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # the Arrow path is a JVM local relation; pickled rows scan an RDD
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_duplicate_column_names_raise(spark):
    with pytest.raises(ValueError, match="duplicate column names \\['x'\\]"):
        fixture_df(spark, [("a", "b")], "x string, x string")


def test_arrow_disabled_raises(spark):
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        with pytest.raises(ValueError, match="arrow"):
            fixture_df(spark, ROWS, DDL)
    finally:
        spark.conf.set(conf, old)


def test_backticked_column_names(spark):
    df = fixture_df(
        spark, [("a", "1")], "`Category` string, `1 Adult, 0 Children` string"
    )
    assert df.columns == ["Category", "1 Adult, 0 Children"]
    assert [tuple(r) for r in df.collect()] == [("a", "1")]
