"""Physical-plan introspection helpers.

The reference has no optimizer (SURVEY §4 — it ships rows to Postgres);
this engine's optimizer is Catalyst, so the engine's "optimizer tests"
assert properties of the PHYSICAL PLAN Catalyst produces: filters and
projections reach the parquet scan, dimension joins broadcast,
aggregates have map-side partials, top-k compiles to
TakeOrderedAndProject. These are the properties that decide whether a
plan survives a 100x scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True when at least one scan node carries PushedFilters."""
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and not _all_pushed_empty(plan)


def _all_pushed_empty(plan: str) -> bool:
    return all(
        seg.startswith("]")  # "PushedFilters: []"
        for seg in (s.split("PushedFilters: [", 1)[1] for s in [plan] if "PushedFilters: [" in s)
    ) if "PushedFilters: [" in plan else True


def scan_read_schema(df: DataFrame, table_hint: str = "") -> list[str]:
    """Column names in the scan's ReadSchema (column pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:") and (not table_hint or table_hint in plan):
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            depth = 0
            field = ""
            for ch in inner:
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                elif ch == "," and depth == 0:
                    cols.append(field.split(":")[0])
                    field = ""
                    continue
                field += ch
            if field:
                cols.append(field.split(":")[0])
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine present: HashAggregate appears in both partial
    and final modes (keys of the final agg arrive pre-reduced)."""
    plan = formatted_plan(df)
    return plan.count("HashAggregate") >= 2 or "partial" in plan.lower()


def is_top_k(df: DataFrame) -> bool:
    """orderBy+limit compiled to TakeOrderedAndProject — per-partition
    top-k + k-row driver merge, never a global sort."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle boundaries in the plan (counting the
    formatted-plan detail headers '(N) Exchange', so each node counts
    once; broadcast/reused exchanges excluded)."""
    import re

    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if re.match(r"^\(\d+\) Exchange\s*$", line.strip())
    )
