"""Physical-plan inspection helpers (the '.explain and iterate' loop).

The scale contract in SURVEY.md §4/§7.4.6 is enforceable, not
aspirational: these helpers read the formatted physical plan so tests
can assert that dims broadcast, predicates reach the parquet scan,
top-k never globally sorts, and no row-at-a-time Python sneaks into a
hot path. tests/test_plans.py applies them to the headline queries.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan as a string (explain('formatted'))."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    """True when sort+limit fused into TakeOrderedAndProject (no global sort)."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def has_python_eval(df: DataFrame) -> bool:
    """True when the plan contains row-at-a-time Python (BatchEvalPython)
    or Arrow-batched Python (ArrowEvalPython / MapInPandas / MapInArrow —
    every map_rows stage — / FlatMapGroups variants). Reference-parity
    queries must return False; extension operators may use the Arrow
    forms deliberately."""
    plan = formatted_plan(df)
    return bool(
        re.search(
            r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan
        )
    )


def count_global_windows(df: DataFrame) -> int:
    """Number of WindowExec nodes with an EMPTY partition spec — the
    plan shape that funnels every row into one task (Spark's own
    'No Partition Defined for Window operation' warning). The 100 TB
    gate: fact-sized inputs must never flow through one; rank/prefix
    work goes through operators.warehouse.global_order_columns
    instead.

    Detection: a WindowExec line prints its specs as top-level bracket
    groups — ``[exprs], [partSpec], [orderSpec]`` when both are present,
    dropping whichever is empty. So the window is GLOBAL when the
    partition spec is absent: three groups is always partitioned; two
    groups is partitioned iff the LAST group carries no ASC/DESC sort
    tokens (a partition spec is a bare column list); one group is an
    unpartitioned whole-frame window. Groups are split with a bracket
    depth scanner so nested literals/lambdas don't confuse it."""

    def top_level_groups(s: str) -> list[str]:
        depth, start, groups = 0, -1, []
        for i, ch in enumerate(s):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth = max(0, depth - 1)
                if depth == 0 and start >= 0:
                    groups.append(s[start : i + 1])
                    start = -1
        return groups

    n = 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        m = re.search(r"(?:^|\s)Window (\[.*)$", line)
        if not m:
            continue
        groups = top_level_groups(m.group(1))
        if len(groups) >= 3:
            continue  # [exprs], [partSpec], [orderSpec]
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue  # [exprs], [partSpec] — partitioned, unordered
        n += 1
    return n


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters lists that reached a parquet scan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Number of whole-stage-codegen subtrees; wider/fewer is better."""
    return len(set(re.findall(r"\*\((\d+)\)", formatted_plan(df))))
