"""Literal fixture tables as JVM-evaluable local relations.

``spark.createDataFrame(list_of_tuples)`` parallelizes the PICKLED rows into
``defaultParallelism`` python-side partitions: every downstream action pays a
python-worker round trip per partition (measured ~150 ms each on a loaded
box), and a ``.coalesce(1)`` on top iterates those parents SERIALLY in one
task (~5 s for 32 parents — guide §4: the boundary cost is per crossing, not
per row). The pandas -> Arrow path instead ships ONE Arrow batch to the JVM
at creation time; execution is then pure JVM (measured ~0.1 s for the same
fixture, no python tasks at all).

Values are staged through ``dtype=object`` pandas columns so None and exact
literals survive untouched; the explicit schema does the casting, same as
the list path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def fixture_df(
    spark: SparkSession,
    rows: list[tuple],
    schema: str | StructType,
    n_partitions: int | None = 1,
) -> DataFrame:
    """Build a tiny literal DataFrame whose execution never enters Python.

    ``n_partitions`` defaults to 1: fixture-sized inputs should cost one
    task (and, for mapInPandas consumers, one python worker), not
    defaultParallelism near-empty ones. Pass a larger value only when the
    per-row python work downstream is heavy enough to want parallelism;
    None keeps the relation's own partitioning.

    Raises ``ValueError`` on a duplicate column name (the pandas staging
    frame is keyed by name, so one column's values would silently replace
    the other's) and when Arrow transfer is disabled (the session would
    fall back to the pickled-rows path this helper exists to avoid).
    """
    if isinstance(schema, StructType):
        names = schema.fieldNames()
    else:
        from pyspark.sql.types import _parse_datatype_string

        names = _parse_datatype_string(schema).fieldNames()
    dup = sorted({n for n in names if names.count(n) > 1})
    if dup:
        raise ValueError(f"fixture_df: duplicate column names {dup}")
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    if spark.conf.get(arrow).lower() != "true":
        raise ValueError(f"fixture_df needs {arrow}=true (it is off in this session)")
    data = {
        name: pd.Series([r[i] for r in rows], dtype=object)
        for i, name in enumerate(names)
    }
    pdf = pd.DataFrame(data, columns=names)
    df = spark.createDataFrame(pdf, schema=schema)
    return df.coalesce(n_partitions) if n_partitions is not None else df
