"""Gate-sample rotation (no SparkSession needed).

The driver's correctness gate samples the FIRST 50 registry entries each
round, so ``registry()`` orders entries by the round that last proved
them (``_driver_evidenced`` over the repo-root CORRECTNESS_r*.json
files, with ``_REPROVE`` voiding proof that predates a semantic change),
oldest first, registration order breaking ties.
"""

from __future__ import annotations

import json

from json_to_parquet_spark import queries
from json_to_parquet_spark.queries import (
    _REGISTRY,
    _REPROVE,
    _driver_evidenced,
    registry,
)


def _rounds(evidenced: dict[str, int]) -> dict[str, int]:
    """Each registered name's effective last-proven round (0 = unproven)."""
    return {
        n: 0 if evidenced.get(n, 0) < _REPROVE.get(n, 0) else evidenced.get(n, 0)
        for n in registry()
    }


def _registered() -> list[str]:
    """Registered names in registration order."""
    registry()
    return list(_REGISTRY)


def _write(tmp_path, name: str, rows) -> None:
    (tmp_path / name).write_text(rows if isinstance(rows, str) else json.dumps(rows))


_GREEN = {"hash_match": True, "err": None}
_WRONG = {"hash_match": False, "err": None}
_ERROR = {"hash_match": None, "err": "boom"}


def test_driver_evidenced_parses_gate_files(tmp_path):
    """Green and declared rows-only rows prove a name in their file's
    round; error and hash-mismatch rows leave it unproven (so the driver
    re-samples it); junk rows and malformed files are skipped."""
    _write(
        tmp_path,
        "CORRECTNESS_r01.json",
        {
            "q_green": _GREEN,
            "q_rows_only": {"hash_match": None, "err": "no_oracle"},
            "q_errored": _ERROR,
            "q_wrong": _WRONG,
            "q_junk": "not-a-row",
        },
    )
    _write(tmp_path, "CORRECTNESS_r02.json", "{ not json")
    _write(tmp_path, "CORRECTNESS_r03.json", "[1, 2]")
    assert _driver_evidenced(str(tmp_path)) == {
        "q_green": 1,
        "q_rows_only": 1,
        "q_errored": 0,
        "q_wrong": 0,
    }


def test_latest_row_decides(tmp_path):
    """A later failure voids earlier proof, a later green row proves the
    name in its own round, and a file without a plain round number
    counts as round 0 however green its rows are."""
    _write(tmp_path, "CORRECTNESS_r01.json", {"q_regressed": _GREEN, "q_fixed": _ERROR})
    _write(tmp_path, "CORRECTNESS_r02.json", {"q_regressed": _WRONG, "q_fixed": _GREEN})
    _write(tmp_path, "CORRECTNESS_r11_retry.json", {"q_retry_only": _GREEN})
    got = _driver_evidenced(str(tmp_path))
    assert got.get("q_regressed", 0) == 0
    assert got["q_fixed"] == 2
    assert got.get("q_retry_only", 0) == 0


def test_head_sample_never_wastes_a_slot_on_proven_queries():
    """The 50-slot head is the 50 stalest entries: nothing in it was
    proven later than anything behind it, and the whole order runs
    oldest proof first."""
    rounds = _rounds(_driver_evidenced())
    order = [rounds[n] for n in registry()]
    assert order == sorted(order)
    head, rest = order[:50], order[50:]
    if rest:
        assert max(head) <= min(rest)


def test_unproven_window_entries_lead_the_registry(monkeypatch):
    """Entries without any green row come first, ahead of every proven
    entry, in registration order."""
    names = _registered()
    never = set(names[5::40])
    monkeypatch.setattr(queries, "_REPROVE", {})
    monkeypatch.setattr(
        queries,
        "_driver_evidenced",
        lambda: {n: 3 for n in names if n not in never},
    )
    head = list(registry())[: len(never)]
    assert head == [n for n in names if n in never]


def test_reproved_queries_rejoin_the_window_until_regated(monkeypatch):
    """A ``_REPROVE`` entry whose latest proof predates its semantic
    change counts as unproven and leads the registry; a proof at or
    after that round counts normally."""
    live = _driver_evidenced()
    head = list(registry())[:50]
    for name, since in _REPROVE.items():
        if live.get(name, 0) < since:
            assert name in head, name

    names = _registered()
    stale, regated = names[10:13], names[20]
    evidenced = {n: 3 for n in names}
    evidenced[regated] = 9
    monkeypatch.setattr(queries, "_driver_evidenced", lambda: dict(evidenced))
    monkeypatch.setattr(queries, "_REPROVE", {n: 9 for n in (*stale, regated)})
    order = list(registry())
    assert order[:3] == stale
    assert order[-1] == regated


def test_ties_keep_registration_order(monkeypatch):
    """Entries proven in the same round keep registration order."""
    names = _registered()
    monkeypatch.setattr(queries, "_REPROVE", {})
    monkeypatch.setattr(queries, "_driver_evidenced", lambda: {n: 7 for n in names})
    assert list(registry()) == names
    monkeypatch.setattr(queries, "_driver_evidenced", dict)
    assert list(registry()) == names


def test_new_gate_file_moves_its_entries_to_the_back(monkeypatch):
    """A new round's gate file proving the current head sends those 50
    to the back (in registration order), and everything behind them
    moves up 50 slots in the same order."""
    before = list(registry())
    head = set(before[:50])
    real = _driver_evidenced()
    latest = max([*real.values(), *_REPROVE.values()]) + 1
    monkeypatch.setattr(
        queries,
        "_driver_evidenced",
        lambda: {**real, **{n: latest for n in head}},
    )
    assert list(registry()) == before[50:] + [n for n in _registered() if n in head]


def test_pinned_names_exist_in_registry():
    """Every ``_REPROVE`` key, the only hand-maintained gate state, names
    a registered entry."""
    missing = [n for n in _REPROVE if n not in registry()]
    assert not missing, missing


def test_x98_guards_oracle_dir_mismatch():
    """x98's oracle SQL embeds a literal path frozen at import; the Spark
    side must refuse a mismatched sf_dir instead of silently letting the
    differential compare two directories (VERDICT r4 ask #6)."""
    import pytest

    from json_to_parquet_spark.queries import scale_layout

    with pytest.raises(ValueError, match="pinned"):
        scale_layout.x98_parquet_stats_report(None, "/nonexistent/sfX")
