"""Physical-plan inspection (SURVEY.md §4): the feedback loop that keeps
every operator on the plan we'd want at 100 TB. Used by tests/test_plans.py
to ASSERT plan properties — pushdown reached the scan, dims broadcast,
top-k took WindowGroupLimit/TakeOrdered, aggregates are partial+final —
so a regression in plan shape fails CI, not just the benchmark.

Private-API confinement (VERDICT r3 #4, accepted): ``executed_plan`` uses
``df._jdf.queryExecution()`` because PySpark exposes no public accessor
for the executed-plan STRING (``explain`` prints to stdout). The reach is
confined to this module, which is used only by plan ASSERTIONS (tests,
PLANS.md generation, bench fingerprints) — never in a query path — so a
Spark upgrade that breaks it fails tests, not production queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The whole plan: Spark cuts field lists past maxToStringFields (25,
    "... 4 more fields") and some nodes read that conf directly, so it is
    lifted while the plan renders."""
    conf, key = df.sparkSession.conf, "spark.sql.debug.maxToStringFields"
    prev = conf.get(key)
    conf.set(key, str(2**31 - 1))
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        conf.set(key, prev)


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # same text as .explain("formatted")
        df._jdf.queryExecution(), "formatted"
    )


def has(df: DataFrame, needle: str) -> bool:
    return needle in executed_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Shuffle count (Exchange nodes, excluding broadcast exchanges) — the
    number that must stay flat as data scales."""
    plan = executed_plan(df)
    return sum(
        line.strip().lstrip("+-:* ").startswith("Exchange")
        for line in plan.splitlines()
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node(s)."""
    return "\n".join(
        line.strip() for line in formatted(df).splitlines() if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    """ReadSchema of the scan node(s) — verifies column pruning."""
    return "\n".join(
        line.strip() for line in formatted(df).splitlines() if "ReadSchema" in line
    )


def plan_fingerprint(df: DataFrame) -> str:
    """Stable sha256 of the executed plan (VERDICT r3 #5): expression ids,
    plan ids, codegen stage ids, and filesystem locations are stripped so the
    hash survives re-runs and host moves but flips on any real plan change —
    bench JSON carries it per headline query so a timing delta can be
    attributed to host noise (same fingerprint) vs a plan regression
    (different fingerprint) without a manual diff."""
    import hashlib
    import re as _re

    plan = executed_plan(df)
    lines = []
    for line in plan.splitlines():
        if "Location" in line or "file:" in line or "URI" in line:
            continue
        line = _re.sub(r"#\d+[A-Za-z]*", "#", line)
        line = _re.sub(r"plan_id=\d+", "plan_id=", line)
        line = _re.sub(r"\[id=#\]", "", line)
        line = _re.sub(r"\(\d+\)", "()", line)  # codegen stage ids
        # higher-order-function lambda variables carry a SESSION-GLOBAL
        # ordinal (``lambda x_5#`` on one run, ``lambda x_13#`` on the
        # next, depending on how many HOF lambdas the session built
        # earlier) — the round-5 q_cosine_topk "plan change" was exactly
        # this artifact, not a plan change (triaged round 6, VERDICT r5 #2)
        line = _re.sub(r"\blambda ([A-Za-z]+)_\d+#", r"lambda \1#", line)
        lines.append(line.rstrip())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
