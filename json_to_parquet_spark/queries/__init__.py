"""Query registry — the engine's public query surface.

Every operator from SURVEY.md §2 (the relational core X6 plus the
LLM-pipeline extensions X1-X5) is a named ``QuerySpec``: a Spark
DataFrame-API implementation and, where SQL-expressible, a DuckDB oracle
producing identical rows (same column names, same values) for the
driver's differential correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    description: str = ""


_REGISTRY: dict[str, QuerySpec] = {}

# The driver's correctness gate samples the FIRST 50 registry entries
# each round and writes one CORRECTNESS_r<round>.json at the repo root,
# so ``registry()`` orders entries by the round that last proved them,
# oldest first (registration order breaks ties): the sample walks the
# whole registry, stalest evidence first, with no hand-pinned window.
#
# Entries whose semantics changed after they earned a gate row: proof
# from before the given round speaks for code that no longer exists, so
# it counts as round 0.  Round 16 moved x26, x33 and x293 onto the one
# shared ``dedup.connected_components``, and x208's picks onto a
# driver-side traversal.
_REPROVE: dict[str, int] = {
    "x26_dedup_clusters": 16,
    "x33_dedup_survivors": 16,
    "x293_image_neardup_clusters": 16,
    "x208_kcenter_coreset": 16,
}


def _driver_evidenced(root: "str | None" = None) -> dict[str, int]:
    """name → the round whose CORRECTNESS_r*.json last proved it.

    Each name's latest row decides: a green row or a declared rows-only
    row (``err == "no_oracle"``) proves the name in that file's round;
    a real error or a hash mismatch leaves it unproven (round 0), so a
    later failure voids earlier proof and the driver re-samples it.
    Malformed files are skipped, and a file name without a plain round
    number (e.g. CORRECTNESS_r11_retry.json) counts as round 0, so it
    can neither prove a name nor bypass a ``_REPROVE`` round.  Names
    without any row are absent (round 0)."""
    import json
    import re
    from pathlib import Path

    base = Path(root) if root else Path(__file__).resolve().parents[2]
    files = []
    for p in base.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        files.append((int(m.group(1)) if m else 0, p))
    last: dict[str, int] = {}
    for rnd, p in sorted(files):
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") is True or row.get("err") == "no_oracle"
            last[name] = rnd if green else 0
    return last


def register(spec: QuerySpec) -> QuerySpec:
    if spec.name in _REGISTRY:
        raise ValueError(f"duplicate query name {spec.name!r}")
    _REGISTRY[spec.name] = spec
    return spec


def registry() -> dict[str, QuerySpec]:
    # Import side-effect modules once, on first access.
    from . import (  # noqa: F401
        assembly,
        audits,
        convert_gate,
        corpus,
        crawl,
        curation,
        dedup,
        evalsuite,
        evalsuite2,
        graph_ssl,
        modeling,
        multimodal,
        pipeline,
        preference,
        quality,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        relational6,
        relational7,
        retrieval,
        scale_layout,
        similarity,
        streaming_gate,
        text,
        tokenizer,
    )

    proven = _driver_evidenced()
    for name, since in _REPROVE.items():
        if proven.get(name, 0) < since:
            proven[name] = 0
    # sorted() is stable: equal rounds keep registration order
    order = sorted(_REGISTRY, key=lambda n: proven.get(n, 0))
    return {n: _REGISTRY[n] for n in order}
