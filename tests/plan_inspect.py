"""Executed-plan inspection for the plan-shape guard tests: the plan text
of a frame, the balanced-paren calls in it, and the first conjunct a
join condition evaluates."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan as text, after one run of ``df`` (a
    collect: the frames under test are small), cut to adaptive
    execution's final plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("\n+- == Initial Plan ==")[0]


def _close(text: str, open_at: int) -> int:
    """Index just past the parenthesis that closes ``text[open_at]``."""
    depth = 0
    for i in range(open_at, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    raise ValueError(f"unbalanced call at {open_at}")


def calls(text: str, fn: str) -> list[str]:
    """Every ``fn(...)`` call in ``text``, arguments included."""
    return [
        text[m.start():_close(text, m.end() - 1)]
        for m in re.finditer(rf"\b{fn}\(", text)
    ]


def join_conditions(plan: str) -> list[str]:
    """The extra (non-equi) condition of each hash join in ``plan``."""
    out = []
    for line in plan.splitlines():
        m = re.search(r"HashJoin \[.*?, Build(?:Left|Right), (\(.*)$", line)
        if m:
            cond = m.group(1)
            out.append(cond[:_close(cond, 0)])
    return out


def first_conjunct(cond: str) -> str:
    """The conjunct of ``cond`` that is evaluated first (on every row):
    the leftmost operand of its top-level ANDs."""
    while cond.startswith("(") and _close(cond, 0) == len(cond):
        inner, depth = cond[1:-1], 0
        for i, ch in enumerate(inner):
            depth += (ch == "(") - (ch == ")")
            if depth == 0 and inner.startswith(" AND ", i + 1):
                cond = inner[:i + 1].strip()
                break
        else:
            return cond
    return cond
