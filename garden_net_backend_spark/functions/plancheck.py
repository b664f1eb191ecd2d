"""Physical-plan guardrails: assert a DataFrame's plan is free of
scale-killers BEFORE running it on 100 TB.

PLANS.md documents the plans we ship; this module makes the same
checks availble programmatically — CI asserts them per operator, and a
pipeline driver can refuse to launch a job whose plan regressed into a
cartesian product after an innocent-looking change.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Operators that mean "this will not survive a scale-up" in almost any
# engine plan. BroadcastNestedLoopJoin is allowed only when a caller
# explicitly opts in (some one-row-scalar compositions legitimately
# plan as BNLJ over a single broadcast row).
DEFAULT_FORBIDDEN = ("CartesianProduct",)


class ScaleHazard(AssertionError):
    """A forbidden operator or budget violation in the physical plan."""


def plan_string(df: DataFrame) -> str:
    """The pre-execution physical plan (initial adaptive plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


# The node counts ROADMAP's plan fingerprint records: shuffles,
# broadcasts, nested-loop joins, window operators and leaf scans.
FINGERPRINT_NODES = (
    "Exchange",
    "BroadcastExchange",
    "BroadcastNestedLoopJoin",
    "Window",
    "Scan",
)

# The operator name that begins a plan-tree line: after the tree
# drawing (``+-``, ``:-``, ``:``, indentation) and an optional
# whole-stage-codegen marker ``*(n)``.
_NODE = re.compile(r"^[\s:+\-|]*(?:\*\(\d+\)\s+)?([A-Za-z]\w*)")


def _plan_nodes(plan: str) -> list[tuple[str, str]]:
    """``(operator name, line)`` of every node of a plan string, in
    print order. A name is read only as the token that begins a
    plan-tree line, so a column or literal that spells an operator
    name (``Window_x``) is never counted."""
    return [
        (m.group(1), ln)
        for ln in plan.splitlines()
        if (m := _NODE.match(ln))
    ]


def _is_node(name: str, node: str) -> bool:
    # every leaf scan spells its name with a "Scan" suffix (FileScan,
    # LocalTableScan, InMemoryTableScan) or as "Scan <source>"
    return node == name or (name == "Scan" and node.endswith("Scan"))


def plan_fingerprint(df: DataFrame) -> dict[str, int]:
    """Counts of the :data:`FINGERPRINT_NODES` operators in the
    pre-execution physical plan of ``df`` — the structural signature
    two builds of one query are compared by. A ``ReusedExchange``
    reads an earlier shuffle and counts as no Exchange."""
    nodes = _plan_nodes(plan_string(df))
    return {
        name: sum(_is_node(name, n) for n, _ in nodes)
        for name in FINGERPRINT_NODES
    }


def count_exchanges(plan: str) -> int:
    return sum(_is_node("Exchange", n) for n, _ in _plan_nodes(plan))


def assert_scalable_plan(
    df: DataFrame,
    forbid: tuple[str, ...] = DEFAULT_FORBIDDEN,
    forbid_bnlj: bool = True,
    max_exchanges: int | None = None,
) -> str:
    """Raise :class:`ScaleHazard` if the plan contains a forbidden
    operator (default: ``CartesianProduct``; ``forbid_bnlj=True`` adds
    ``BroadcastNestedLoopJoin``), or shuffles more than
    ``max_exchanges`` times. Returns the plan string on success so
    callers can log it.
    """
    plan = plan_string(df)
    hazards = list(forbid) + (
        ["BroadcastNestedLoopJoin"] if forbid_bnlj else []
    )
    for op in hazards:
        line = next(
            (ln.strip()[:160] for n, ln in _plan_nodes(plan) if _is_node(op, n)),
            None,
        )
        if line is not None:
            raise ScaleHazard(f"forbidden operator {op} in plan: {line}")
    if max_exchanges is not None:
        n = count_exchanges(plan)
        if n > max_exchanges:
            raise ScaleHazard(
                f"plan shuffles {n} times (budget {max_exchanges})"
            )
    return plan
