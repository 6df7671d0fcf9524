"""Null-safe change detection between two aliased row versions.

The reference detects change with null-unsafe ``!=`` plus a partial
null guard (reference notebooks/pipeline_core.py:167-172: ``(l.c !=
r.c) & (l.c.isNotNull() | r.c.isNotNull())`` OR-folded) — which misses
NULL↔value transitions whenever the ``!=`` evaluates to NULL. Per
SURVEY.md §7.0.2 the canonical semantics here is the null-safe
**not-equal**: ``NOT (l.c <=> r.c)`` — a strict superset of the
reference's behavior and deterministic.
"""

from __future__ import annotations

from collections.abc import Sequence


def quote(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def any_change_sql(
    left_alias: str, right_alias: str, compare_columns: Sequence[str]
) -> str:
    """OR-fold of null-safe inequality over the compare columns, as one
    SQL expression string (one JVM call to parse, however many
    columns)."""
    la, ra = quote(left_alias), quote(right_alias)
    return " OR ".join(
        f"NOT ({la}.{quote(c)} <=> {ra}.{quote(c)})" for c in compare_columns
    )


