"""Physical-plan lint: machine-checkable scale guards.

`.explain()` is for humans; these helpers let tests assert the properties
that matter at 100 TB — filters reached the scan, projections pruned the
read schema, small dims broadcast, no accidental cartesian product, no
row-at-a-time Python in the hot path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def _pre_aqe(df: DataFrame) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


@dataclass
class PlanReport:
    plan: str
    pushed_filters: bool
    read_schema_cols: list[str] = field(default_factory=list)
    has_broadcast: bool = False
    has_cartesian: bool = False
    has_python_row_udf: bool = False
    has_arrow_udf: bool = False
    wholestage_codegen: bool = False
    partial_aggregate: bool = False
    window: bool = False


def plan_report(df: DataFrame) -> PlanReport:
    p = _pre_aqe(df)
    read_cols: list[str] = []
    for line in p.splitlines():
        if "ReadSchema" in line:
            frag = line.split("ReadSchema:")[1]
            read_cols += [
                c.split(":")[0].strip() for c in frag.strip(" struct<>").split(",") if ":" in c
            ]
    return PlanReport(
        plan=p,
        pushed_filters="PushedFilters: [" in p and "PushedFilters: []" not in p,
        read_schema_cols=read_cols,
        has_broadcast="BroadcastHashJoin" in p
        or "BroadcastExchange" in p
        or "BroadcastNestedLoopJoin" in p,  # non-equi join w/ broadcast small side
        has_cartesian="CartesianProduct" in p,
        has_python_row_udf="BatchEvalPython" in p,
        has_arrow_udf="ArrowEvalPython" in p or "MapInPandas" in p,
        wholestage_codegen="WholeStageCodegen" in p,
        partial_aggregate="partial_" in p,
        window="Window" in p,
    )


def assert_plan(
    df: DataFrame,
    pushed_filters: bool | None = None,
    broadcast: bool | None = None,
    no_cartesian: bool = True,
    no_row_python: bool = True,
    max_read_cols: int | None = None,
) -> PlanReport:
    """Raise AssertionError (with the offending plan) when a guard fails."""
    r = plan_report(df)
    problems = []
    if pushed_filters is not None and r.pushed_filters != pushed_filters:
        problems.append(f"pushed_filters={r.pushed_filters}, wanted {pushed_filters}")
    if broadcast is not None and r.has_broadcast != broadcast:
        problems.append(f"broadcast={r.has_broadcast}, wanted {broadcast}")
    if no_cartesian and r.has_cartesian:
        problems.append("plan contains CartesianProduct")
    if no_row_python and r.has_python_row_udf:
        problems.append("plan contains row-at-a-time Python UDF (BatchEvalPython)")
    if max_read_cols is not None and len(r.read_schema_cols) > max_read_cols:
        problems.append(
            f"scan reads {len(r.read_schema_cols)} cols {r.read_schema_cols}, max {max_read_cols}"
        )
    if problems:
        raise AssertionError("; ".join(problems) + "\n--- plan ---\n" + r.plan)
    return r
