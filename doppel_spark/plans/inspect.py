"""Physical-plan inspection helpers — the engine's own plan hygiene.

Every scale claim in this repo is checkable mechanically: broadcast
joins stay broadcast, filters reach the scan, Python only ever appears
as Arrow-batched nodes. These helpers make those checks one-liners in
tests and notebooks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed/physical plan as text (post-AQE when already executed)."""
    return df._jdf.queryExecution().executedPlan().toString()


def plan_has(df: DataFrame, *fragments: str) -> bool:
    """True if every fragment appears in the physical plan."""
    plan = physical_plan(df)
    return all(f in plan for f in fragments)


def assert_no_row_python(df: DataFrame) -> None:
    """Fail if the plan contains a row-at-a-time Python UDF node.

    ``BatchEvalPython`` = per-row pickle serde (the slow path this
    engine bans); ``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` /
    ``MapInPandas`` are the sanctioned Arrow-vectorized nodes.
    """
    plan = physical_plan(df)
    if "BatchEvalPython" in plan:
        raise AssertionError(
            "row-at-a-time Python UDF in plan (BatchEvalPython):\n" + plan
        )


def assert_no_exchange(df: DataFrame) -> None:
    """Fail if the physical plan moves data between executors at all.

    "Exchange" covers both shuffle (``Exchange hashpartitioning``…)
    and broadcast (``BroadcastExchange``) nodes — the check a
    co-located bucketed join must pass: with both sides bucketed on
    the join key into the same bucket count, a sort-merge join reads
    bucket i of each table in the same task and NOTHING crosses the
    wire (doppel_spark.operators.bucketed).
    """
    plan = physical_plan(df)
    if "Exchange" in plan:
        raise AssertionError("plan moves data (Exchange present):\n" + plan)
