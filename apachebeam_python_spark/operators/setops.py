"""Set operators (SURVEY.md §2.6): Beam ``Flatten`` and the SQL set algebra.

``flatten`` is UNION ALL — a zero-shuffle metadata union (Beam's Flatten is
likewise free). Distinct, INTERSECT and EXCEPT are the plain DataFrame
methods (``distinct``, ``intersect``, ``subtract``); each costs one
hash-aggregate shuffle, so at scale prefer pre-aggregated inputs so the
shuffle carries keys, not raw rows (the count-based form of q_setops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def flatten(*dfs: DataFrame) -> DataFrame:
    """Beam ``Flatten``: bag union (keeps duplicates), schema-aligned by name."""
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL EXCEPT ALL (bag difference — multiplicity-aware)."""
    return a.exceptAll(b)
