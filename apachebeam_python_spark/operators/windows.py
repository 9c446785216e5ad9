"""Analytic (SQL) window operators (SURVEY.md §2.5).

The reference expresses these as stateful DoFns or GroupByKey+sort-in-DoFn;
here they are Spark window functions — one shuffle on the partition key, then
a per-partition sort, all JVM-side. At 100 TB the constraint is per-key data
volume (a window partition must fit an executor's spill budget); keys in our
queries are low-skew (user_id, segment, brand).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def over(partition: Sequence[str | Column], order: Sequence[Column]) -> WindowSpec:
    return Window.partitionBy(*partition).orderBy(*order)


def running(
    partition: Sequence[str | Column],
    order: Sequence[Column],
    preceding: int | None = None,
) -> WindowSpec:
    """ROWS frame ending at the current row; ``preceding=None`` → unbounded
    (running total), ``preceding=k`` → sliding window of k+1 rows."""
    start = Window.unboundedPreceding if preceding is None else -preceding
    return over(partition, order).rowsBetween(start, Window.currentRow)
