"""Gate-sample rotation invariants (no SparkSession needed).

The driver's correctness gate samples the FIRST 50 registry entries each
round, so ``registry()`` must (a) order gate-unproven queries first and
(b) honor the pinned per-round window tuples — round 4 proved the
import-order default exiles the riskiest entries (VERDICT r4 ask #2).
"""

from __future__ import annotations

from json_to_parquet_spark.queries import (
    _PENDING_R5_OVERFLOW,
    _PENDING_R5_WINDOW,
    _driver_evidenced,
    _GATE_EVIDENCED,
    registry,
)


def test_r5_window_is_exactly_fifty_and_disjoint():
    assert len(_PENDING_R5_WINDOW) == 50
    assert len(set(_PENDING_R5_WINDOW)) == 50
    assert not set(_PENDING_R5_WINDOW) & set(_PENDING_R5_OVERFLOW)


def test_pinned_names_exist_in_registry():
    reg = registry()
    missing = [
        n
        for n in (*_PENDING_R5_WINDOW, *_PENDING_R5_OVERFLOW)
        if n not in reg
    ]
    assert not missing, missing


def test_unproven_window_entries_lead_the_registry():
    """While any R5-window query lacks a driver row, the registry head
    must consist of unproven R5-window entries only — nothing pending
    outside the window (overflow or fresh additions) may displace one."""
    reg = registry()
    evidenced = _GATE_EVIDENCED | _driver_evidenced()
    unproven_window = [n for n in _PENDING_R5_WINDOW if n not in evidenced]
    head = list(reg)[: len(unproven_window)]
    assert head == unproven_window


def test_head_sample_never_wastes_a_slot_on_proven_queries():
    """Every entry in the driver's 50-slot head sample must be
    gate-unproven, as long as ≥50 unproven queries exist."""
    reg = registry()
    evidenced = _GATE_EVIDENCED | _driver_evidenced()
    pending = [n for n in reg if n not in evidenced]
    if len(pending) < 50:
        return  # backlog cleared; nothing to rotate
    head50 = list(reg)[:50]
    proven_in_head = [n for n in head50 if n in evidenced]
    assert not proven_in_head, proven_in_head


def test_x98_guards_oracle_dir_mismatch():
    """x98's oracle SQL embeds a literal path frozen at import; the Spark
    side must refuse a mismatched sf_dir instead of silently letting the
    differential compare two directories (VERDICT r4 ask #6)."""
    import pytest

    from json_to_parquet_spark.queries import scale_layout

    with pytest.raises(ValueError, match="pinned"):
        scale_layout.x98_parquet_stats_report(None, "/nonexistent/sfX")


def test_r6_window_is_exactly_fifty_and_complete():
    """Round-6 window: the 40 r5-unproven queries + the 10 round-6
    additions fill all 50 slots with zero slack (VERDICT r5 ask #1)."""
    from json_to_parquet_spark.queries import _PENDING_R6_WINDOW

    assert len(_PENDING_R6_WINDOW) == 50
    assert len(set(_PENDING_R6_WINDOW)) == 50
    reg = registry()
    missing = [n for n in _PENDING_R6_WINDOW if n not in reg]
    assert not missing, missing


def test_unproven_r6_window_entries_lead_the_registry():
    """While any R6-window query lacks a driver row, the registry head
    must consist of unproven R6-window entries only — any query added
    later in round 6 queues AFTER slot 50 (an r7 candidate) instead of
    displacing one."""
    from json_to_parquet_spark.queries import _PENDING_R6_WINDOW

    reg = registry()
    evidenced = _GATE_EVIDENCED | _driver_evidenced()
    unproven_window = [n for n in _PENDING_R6_WINDOW if n not in evidenced]
    head = list(reg)[: len(unproven_window)]
    assert head == unproven_window


def test_reproved_queries_rejoin_the_window_until_regated():
    """Queries whose code changed after they earned a gate row — round
    11's x196 audit-slice demotion and x253 rounding-path rework, round
    16's move of x26/x33/x186/x293 onto the shared connected-components
    routine: their prior rows no longer speak for the current code, so
    until a CORRECTNESS round at or after the change shows them green
    they must sit in the driver's 50-slot head sample."""
    from json_to_parquet_spark.queries import (
        _REPROVE_MIN_ROUND,
        _REPROVE_R11,
        _REPROVE_R16,
        _REPROVE_R16_MIN_ROUND,
    )

    reg = registry()
    head = set(list(reg)[:50])
    for names, min_round in (
        (_REPROVE_R11, _REPROVE_MIN_ROUND),
        (_REPROVE_R16, _REPROVE_R16_MIN_ROUND),
    ):
        regated = _driver_evidenced(min_round=min_round)
        for name in names:
            assert name in reg
            if name not in regated:
                assert name in head, name
