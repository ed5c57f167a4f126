"""Plan observability assertions (SURVEY.md §4 closing note: no custom
Catalyst rules are needed for parity — but asserting that Catalyst did
what we expect is cheap insurance at scale).

Used in tests and available for production preflight: before launching
a 1000-executor job, assert the dims broadcast and the filters reached
the scans; fail fast instead of discovering a 100 TB cartesian at 2am.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _formatted_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def assert_broadcast_join(df: DataFrame, min_count: int = 1) -> None:
    plan = _formatted_plan(df)
    n = plan.count("BroadcastHashJoin")
    if n < min_count:
        raise AssertionError(
            f"expected ≥{min_count} BroadcastHashJoin, found {n}:\n{plan[:2000]}"
        )


def assert_no_broadcast_hint(df: DataFrame) -> None:
    """Assert no join in the plan carries a *forced* broadcast hint.

    A planner-chosen BroadcastHashJoin at small SF is fine (and reverts
    to shuffle join when the side outgrows the threshold); a hard
    ``F.broadcast()`` hint on an unbounded side is an OOM at scale.
    Hints survive into the optimized logical plan as
    ``leftHint=/rightHint=(strategy=broadcast)`` on the Join node."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if "strategy=broadcast" in plan:
        raise AssertionError(f"forced broadcast hint in plan:\n{plan[:2000]}")


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert some parquet scan pushed a filter mentioning ``fragment``."""
    plan = _formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line and "[]" not in line:
            return
    raise AssertionError(f"no pushed filter matching {fragment!r}:\n{plan[:2000]}")


def assert_pruned_scan(df: DataFrame, table_cols: int, max_read_cols: int) -> None:
    """Assert column pruning: every scan reads ≤ ``max_read_cols`` of the
    table's ``table_cols`` columns."""
    plan = _formatted_plan(df)
    for line in plan.splitlines():
        if "ReadSchema" in line and "struct<" in line:
            body = line.split("struct<", 1)[1]
            n = body.count(",") + 1 if body.strip("> \t") else 0
            if n > max_read_cols:
                raise AssertionError(
                    f"scan reads {n} cols (> {max_read_cols} of {table_cols}): {line.strip()}"
                )


def _planned_lines(df: DataFrame) -> list[str]:
    """The formatted plan without AQE's "Final Plan" subtrees. Once a
    frame has run, AQE prints its final plan and then its initial plan,
    so every operator would count twice; the initial plan is the one
    printed before execution, so a count reads the same either way."""
    out, skip = [], None
    for line in _formatted_plan(df).splitlines():
        col = len(line) - len(line.lstrip(" :+-*"))
        if skip is not None and line.strip() and col >= skip and "== Initial Plan ==" not in line:
            continue
        skip = col if "== Final Plan ==" in line else None
        out.append(line)
    return out


def _count_operators(df: DataFrame, operator: str) -> int:
    """Initial-plan tree lines whose operator matches ``operator``,
    whatever branch of the tree (``+-``, ``:-`` or a ``:`` continuation)
    prints them."""
    op = re.compile(rf"^[\s:+\-*]*(?:{operator})\b")
    return sum(1 for line in _planned_lines(df) if op.match(line))


def join_count(df: DataFrame) -> int:
    """Number of physical join operators — catches accidental per-band /
    per-table join loops that re-evaluate shared subtrees."""
    return _count_operators(df, r"\w*(?:HashJoin|SortMergeJoin|NestedLoopJoin)")


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the physical plan — the metric to minimize."""
    return _count_operators(df, "Exchange")
