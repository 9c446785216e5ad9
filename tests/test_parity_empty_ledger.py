"""Empty-is-correct ledger pins (r11, VERDICT r10 #6).

The full-registry sweep (parity_dump.py) rejects any query whose result is
empty at the sweep's scale factor unless the EMPTY_OK ledger documents WHY
empty is the correct, data-determined answer. These tests pin the ledger's
membership — an addition must be deliberate and reviewed, a removal must
come with the query actually producing rows — and its hygiene.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.driver  # fast-gate tier: pure-Python, milliseconds

from apachebeam_python_spark import queries as q
from parity_dump import EMPTY_OK

#: The exact ledger membership as reviewed in round 11. Every entry was
#: observed empty at ≥1 sweep scale factor in CORRECTNESS_LOCAL_r14,
#: _r14_sf01 and _r12_sf1 (sf0.01: q_duplicate_orders, q_source_overlap;
#: sf0.1 adds q_betweenness, q_except_all, q_important_stock,
#: q_inverted_index, q_k_anonymity; sf1.0 adds q_misra_gries) with the
#: oracle hash-agreeing on the empty set — correct but vacuous, hence the
#: documented reasons.
PINNED_LEDGER = {
    "q_betweenness",
    "q_duplicate_orders",
    "q_except_all",
    "q_important_stock",
    "q_inverted_index",
    "q_k_anonymity",
    "q_misra_gries",
    "q_source_overlap",
}


def test_ledger_membership_pinned():
    assert set(EMPTY_OK) == PINNED_LEDGER, (
        "EMPTY_OK ledger changed — an addition must document why empty is "
        "the correct answer (and be reviewed here); a removal must come "
        "with the query actually producing rows at every sweep SF"
    )


def test_ledger_names_registered_and_oracle_backed():
    for name in EMPTY_OK:
        assert name in q.QUERIES, f"{name} in EMPTY_OK but not registered"
        # every ledger entry is oracle-backed: 'empty is correct' is only
        # checkable when BOTH engines agree on the empty set
        assert name in q.ORACLES, f"{name} in EMPTY_OK but rows-only"


def test_ledger_reasons_substantive():
    for name, reason in EMPTY_OK.items():
        assert isinstance(reason, str) and len(reason) >= 40, (
            f"{name}'s empty-is-correct reason is too thin to review"
        )


def test_driver_surface_entries_nonempty_at_driver_scale():
    """A ledger entry MAY sit on the driver surface (q_k_anonymity: empty
    only at sf0.1+), but its reason must then record that the driver's
    grade scale (sf0.01) is nonempty — the driver-window nonempty
    invariant in test_oracle_parity enforces the behavior; this pins that
    the ledger text doesn't contradict it."""
    for name in set(EMPTY_OK) & set(q.DRIVER_QUERIES):
        assert "sf0.01" in EMPTY_OK[name], (
            f"{name} is on the driver surface and in EMPTY_OK — its reason "
            "must state the sf0.01 (driver-scale) behavior explicitly"
        )
