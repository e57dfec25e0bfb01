"""Base-table scan-count pins (r10 verdict task 3): the registry-wide
fact-scan audit (scripts/scan_audit.py, r10) promoted to a committed
contract. Every queries() entry's per-base-table physical scan count is
pinned in SCAN_PINS.json; this suite recomputes each and fails on any
INCREASE — a frame feeding N consumers without a lineage cut re-scans
its producer per consumer, which is N-1 wasted FULL TABLE SCANS at
100 TB even though it is milliseconds at test scale.

Semantics (same as the r10 audit): counts are over the FINAL executed
plan. A query whose rollup is materialized pins at 0 for the base table
— its single base scan runs inside the producer's write job — and the
gate still works: removing the cut restores the N-consumer multi-scan
final plan, which exceeds the pin.

Blind spot: a query whose EVERY base scan moved into a ``materialize``
producer job pins as ``{}`` (``revenue_lorenz_deciles`` and
``uplift_deciles_click_purchase``, whose ``events`` scan runs in the
producer). Producer plans are not walked, so the gate is vacuous for
them: a new re-scan inside their producer would not fail it.

Queries pinned above 1 scan are the triaged acceptance baseline:
size-gated cuts (materialize_if_large) that deliberately stay inline at
sf0.001, wrapper fixtures slicing one table into synthetic batches, and
the multi-table audit family (fk_orphan checks four FK pairs — each
pair's scan IS the audit). Improvements (fewer scans than pinned) pass —
lock them in with ``python scripts/gen_scan_pins.py``.
"""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SCAN_PIN_SF_DIR", "/root/testdata/sf0.001")
PIN_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SCAN_PINS.json",
)

QUERIES = entry_mod.queries()
with open(PIN_PATH) as _fh:
    PINS = json.load(_fh)


def test_every_query_has_a_scan_pin():
    missing = sorted(set(QUERIES) - set(PINS))
    assert not missing, (
        f"queries without a scan pin (run scripts/gen_scan_pins.py): "
        f"{missing}"
    )


def test_no_stale_scan_pins():
    stale = sorted(set(PINS) - set(QUERIES))
    assert not stale, f"scan pins for removed queries: {stale}"


def test_audit_fixes_hold():
    """The r10 materialize sweep's headline fixes must stay fixed: the
    worst multi-scan plans the audit found, pinned at their post-fix
    counts (markov was 56 scans before the sweep; ks_value_drift was the
    one audited-and-deferred triple scan, fixed in r11). Post-cut these
    FINAL plans read only the stored rollup — the base table is scanned
    exactly once, inside the producer's write job — so the pinned count
    is 0-or-1; losing the cut restores the multi-scan plan and trips the
    growth gate."""
    assert max(PINS["markov_stationary_events"].values(), default=0) <= 1
    assert max(PINS["ks_value_drift"].values(), default=0) <= 1
    assert max(PINS["kruskal_wallis_qty_by_flag"].values(), default=0) <= 1


@pytest.mark.parametrize("name", sorted(set(QUERIES) & set(PINS)))
def test_scan_count_not_increased(spark, pin_probe, name):
    # shared probe: ONE query build + ONE plan walk serves this suite and
    # test_plan_pins.py (r12 — the driver-verify wall-clock budget)
    counts = pin_probe(name, QUERIES[name], SF_DIR)[1]
    pin = PINS[name]
    grew = {
        t: (pin.get(t, 0), c)
        for t, c in counts.items()
        if c > pin.get(t, 0)
    }
    assert not grew, (
        f"{name}: base-table scan count grew (pinned -> now): {grew} — "
        "a multi-consumer frame lost its lineage cut (or a new one "
        "needs materialize/materialize_if_large); each extra count is a "
        "full table scan at 100 TB"
    )
