"""sf1 exclusion ledger (r10, VERDICT r9 #7): the full-registry sf1.0 sweep
excludes exactly two queries — q_provenance (layout-pinned) and
q_dedup_embedding (quadratic by definition). The artifact note documents the
reasons, but nothing previously ASSERTED them, so the ledger could silently
grow (new exclusions hidden behind the documented two) or rot (an excluded
query rewritten to be sf1-feasible while still skipped). This module mirrors
tests/test_rows_only_ledger.py: membership is pinned against the newest
committed sf1 artifact, and each exclusion's REASON is pinned against the
live code so the exclusion dies when its justification does."""

from __future__ import annotations

import inspect
import json
import pathlib
import re

import pytest

pytestmark = pytest.mark.driver  # fast-gate tier: pure file/registry checks

from apachebeam_python_spark import queries as q

REPO = pathlib.Path(__file__).resolve().parent.parent

#: The complete, closed set of allowed sf1 exclusions. Growing this set is a
#: deliberate act that must come with a documented reason AND a reason-pin
#: test below — not an artifact-note edit.
ALLOWED = {
    "excluded_layout_pinned": {"q_provenance"},
    "excluded_quadratic_by_definition": {"q_dedup_embedding"},
}


def _unwrap(fn):
    """Registered queries are tune()-wrapping closures; pull the inner
    query function out of the closure cells (same trick the judge's
    file:line resolver uses)."""
    for cell in fn.__closure__ or ():
        v = cell.cell_contents
        if callable(v) and getattr(v, "__name__", "").startswith("q_"):
            return v
    return fn


def _newest_sf1_artifact():
    arts = sorted(
        REPO.glob("CORRECTNESS_LOCAL_r*_sf1.json"),
        key=lambda p: int(re.search(r"_r(\d+)_sf1", p.name).group(1)),
    )
    assert arts, "no committed sf1 sweep artifact found"
    return json.loads(arts[-1].read_text())


def test_sf1_exclusion_list_is_exactly_two():
    """The newest sf1 artifact's exclusion lists must match ALLOWED exactly —
    no new exclusion keys, no new members, nothing silently dropped from the
    sweep."""
    artifact = _newest_sf1_artifact()
    summary = artifact["summary"]
    excl_keys = {k for k in summary if k.startswith("excluded_")}
    assert excl_keys == set(ALLOWED), (
        f"exclusion categories drifted: {sorted(excl_keys)}"
    )
    for key, allowed in ALLOWED.items():
        assert set(summary[key]) <= allowed, (
            f"{key} grew beyond the documented ledger: {summary[key]}"
        )
    total_excluded = sum(len(summary[k]) for k in ALLOWED)
    assert total_excluded <= 2
    # exclusions + swept oracle-backed queries must account for every oracle
    # the registry had when the artifact was cut (the sweep may predate new
    # registrations, so <=, never >). The sweep may also predate deletions:
    # a row of a query deleted since is allowed only when test_plans.SUBSUMED
    # pins its subsumer's plan, and it stops counting.
    from .test_plans import SUBSUMED

    swept = {n for n, row in artifact["queries"].items() if row.get("oracle")}
    assert len(swept) == summary["oracle_backed"]
    assert swept - set(q.ORACLES) <= set(SUBSUMED), (
        f"swept but unregistered: {sorted(swept - set(q.ORACLES) - set(SUBSUMED))}"
    )
    assert len(swept & set(q.ORACLES)) + total_excluded <= len(q.ORACLES)


def test_q_provenance_is_still_layout_pinned():
    """q_provenance is excluded because its oracle pins the SINGLE-FILE
    fixture layout ('lineitem.parquet' literal) while the sf1 replica is a
    multi-file directory — per-file provenance rows can't match a one-row
    oracle there. If either side of that pin changes (oracle generalized, or
    the query no longer reads _metadata.file_name), the query may have become
    sf1-feasible and the exclusion must be re-justified or removed."""
    assert "'lineitem.parquet' AS file_name" in q.ORACLES["q_provenance"], (
        "q_provenance's oracle no longer pins the single-file layout — "
        "re-evaluate its sf1 exclusion"
    )
    src = inspect.getsource(_unwrap(q.QUERIES["q_provenance"]))
    assert "_metadata.file_name" in src, (
        "q_provenance no longer groups by source-file identity — "
        "re-evaluate its sf1 exclusion"
    )


def test_q_dedup_embedding_is_still_quadratic_by_definition():
    """q_dedup_embedding is excluded because it is the deliberate all-pairs
    O(n²) exactness anchor (VERDICT r2 #4) — its oracle self-joins the
    embeddings table with no blocking, which is density-quadratic at the sf1
    replica. If the oracle gains a blocking/bucketing stage it is no longer
    quadratic by definition and the exclusion must be removed."""
    oracle = q.ORACLES["q_dedup_embedding"]
    assert re.search(r"JOIN e b ON a\.vec_id < b\.vec_id", oracle), (
        "q_dedup_embedding's oracle is no longer the unblocked all-pairs "
        "self-join — re-evaluate its sf1 exclusion"
    )
    # and the scale path must still exist: the LSH arm that replaces this
    # anchor at scale stays registered (it IS swept at sf1)
    assert "q_dedup_sketch" in q.QUERIES
