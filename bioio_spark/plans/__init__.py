"""Physical-plan introspection: the scale contract, made assertable.

Correctness is checked by the DuckDB oracle; *these* helpers check that the
plan Catalyst picked is the one that survives a 100x scale-up — filters
pushed into the parquet scan, small dims broadcast instead of shuffled,
aggregates partially combined map-side, codegen spanning the hot path.
Tests use them as regression guards so a refactor that silently degrades a
plan (e.g. a lost broadcast, a filter stuck above a UDF) fails CI even
though results stay correct.

The reference has no optimizer to introspect (SURVEY §4); this module is the
Spark-native replacement for eyeballing `.explain("formatted")`.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The physical plan as a string (pre-execution; AQE shows the initial
    plan under AdaptiveSparkPlan, which is what static assertions want)."""
    return df._jdf.queryExecution().executedPlan().toString()


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """`df.explain(mode)` as a string instead of stdout."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters lists from every parquet scan in the plan. Long
    lists are TRUNCATED by Spark's plan printer ("...", no closing
    bracket), so the capture stops at either boundary."""
    return re.findall(r"PushedFilters: \[([^\]\n]*)", physical_plan(df))


def broadcast_join_count(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (broadcast exchanges are
    excluded — they move only the small side)."""
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|"
                          r"RoundRobinPartitioning|SinglePartition)",
                          physical_plan(df)))


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when the plan contains a map-side partial aggregate (the
    pre-shuffle combine that collapses rows before they cross the wire)."""
    plan = physical_plan(df)
    return bool(re.search(r"HashAggregate\([^\n]*partial_", plan)
                or re.search(r"\bpartial_\w+\(", plan))


def codegen_span_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen subtrees — fewer, wider spans mean more
    of the query runs as a single generated loop. (Read from explain-codegen
    output: the pre-execution AQE plan string carries no codegen markers.)"""
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees",
                  explain_str(df, "codegen"))
    return int(m.group(1)) if m else 0
