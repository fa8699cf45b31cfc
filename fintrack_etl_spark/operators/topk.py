"""Sorts / limits / top-k (reference parity: O1-O6, SURVEY.md §2.6).

``orderBy(...).limit(n)`` compiles to ``TakeOrderedAndProject`` — a
per-partition top-N followed by a driver-side merge of N-row heaps, not
a global sort. That is the plan that survives 100 TB. Every top-N
carries a deterministic tie-break key (SURVEY §7 risk register).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def filtered_top_n(
    df: DataFrame,
    predicate: Column,
    order: list[Column],
    n: int = 15,
) -> DataFrame:
    """O2/O5 — filter then top N (``monthly_summary.py:70-73``)."""
    return df.filter(predicate).orderBy(*order).limit(n)
