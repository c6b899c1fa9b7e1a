"""Physical-plan inspection: make scale properties assertable.

"Would this plan survive a 100× scale-up?" is a question about the
physical plan, not the result set — these helpers turn the interesting
properties (broadcast vs shuffle joins, exchange count, pushdown, column
pruning) into strings/ints that tests can assert on and audits can log.
The reference never looks at a plan; at 100 TB you look at every plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges.  Every one is a full network/disk
    materialization of its input — the unit of cost that dominates at
    100 TB.  BroadcastExchange is deliberately NOT counted (it ships the
    small side only)."""
    plan = physical_plan(df)
    return len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))


def assert_broadcast_join(df: DataFrame, at_least: int = 1) -> None:
    """Assert the plan broadcasts (small dims must never shuffle-join)."""
    plan = physical_plan(df)
    n = plan.count("BroadcastHashJoin")
    if n < at_least:
        raise AssertionError(f"expected ≥{at_least} BroadcastHashJoin, found {n} in:\n{plan}")


def assert_no_cartesian(df: DataFrame) -> None:
    """Assert no cartesian/broadcast-nested-loop product sneaked in —
    the classic similarity-search scale killer (deliberate crossJoin in
    similarity_topk broadcasts the *query* side, which is fine; an
    accidental unkeyed join of two big sides is not)."""
    plan = physical_plan(df)
    if "CartesianProduct" in plan:
        raise AssertionError(f"CartesianProduct in plan:\n{plan}")


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries per parquet scan (empty list entry = scan
    reads everything — fine for full scans, a bug for selective ones)."""
    plan = physical_plan(df)
    return re.findall(r"PushedFilters: \[(.*?)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema per scan — the column-pruning witness: a 2-column
    projection reading an 11-column schema is a missing prune."""
    plan = physical_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)


def plan_summary(df: DataFrame) -> dict:
    plan = physical_plan(df)
    return {
        "shuffles": count_shuffles(df),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "wholestage_codegen": plan.count("WholeStageCodegen"),
        "scans": plan.count("Scan parquet"),
    }


def fits_broadcast(df: DataFrame) -> tuple[bool, int, int]:
    """``(fits, size, threshold)``: Catalyst's size estimate of ``df``
    against the session's ``spark.sql.autoBroadcastJoinThreshold``,
    compared the way Spark decides a broadcast join.  What Spark trusts
    to ship whole to every task is also small enough for one task or
    the driver to hold, so small-state routes reuse this existing knob
    instead of adding one; a threshold of -1 (broadcast off) turns them
    off too.

    The estimate is taken on the analyzed plan, which every DataFrame
    already has; running the optimizer for it would cost a full
    optimization per probe, paid again when the probed plan runs.
    Starts no Spark job."""
    stats = df._jdf.queryExecution().analyzed().stats()
    size = int(str(stats.sizeInBytes()))  # a Scala BigInt
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    threshold = int(conf.autoBroadcastJoinThreshold())
    return 0 <= size <= threshold, size, threshold


def optimized_plan(df: DataFrame) -> str:
    """Catalyst-optimized logical plan as text (runtime-filter
    injections — bloom, DPP subqueries — appear here before physical
    planning)."""
    return df._jdf.queryExecution().optimizedPlan().toString()
