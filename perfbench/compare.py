"""Compare benchmark results of a parent commit and a change.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds result records appended by ``perfbench/run.py`` (one JSON
object a line; traced records are ignored). For every workload and
end-to-end metric of BENCHMARK.json it prints both sides' median and
quartiles, the pair wins, and a verdict:

* ``better``: at least ten pairs, the change wins at least nine tenths of
  them (ties count for neither), and the medians differ by more than the
  distance between the parent's quartiles;
* ``worse``: the change's median is worse than the parent's by more than
  the metric's bound (a share of the parent's median);
* ``unresolved``: either side's quartile spread, as a share of its median,
  is wider than the bound, unless every change run reads better than
  every parent run;
* ``within-bound``: none of the above.

Runs pair up by seed, in file order within a seed.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import stats  # noqa: E402

BENCHMARK = Path(__file__).resolve().parents[1] / "BENCHMARK.json"
MIN_PAIRS = 10
WIN_SHARE = 0.9


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [r for r in map(json.loads, filter(str.strip, f)) if not r.get("trace")]


def pair_up(parent: list[dict], change: list[dict]) -> list[tuple[dict, dict]]:
    by_seed: dict[int, list[dict]] = {}
    for r in change:
        by_seed.setdefault(r["seed"], []).append(r)
    pairs = []
    for r in parent:
        if by_seed.get(r["seed"]):
            pairs.append((r, by_seed[r["seed"]].pop(0)))
    return pairs


def verdict(
    parent: list[float],
    change: list[float],
    pairs: list[tuple[float, float]],
    better: str,
    bound: float,
) -> tuple[str, int, int, int]:
    """(verdict, wins, losses, ties) for one metric on one workload."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0)
    ties = len(pairs) - wins - losses
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, _, q3 = stats.quartiles(parent)
    if (
        len(pairs) >= MIN_PAIRS
        and wins >= WIN_SHARE * len(pairs)
        and sign * (mp - mc) > q3 - q1
    ):
        return "better", wins, losses, ties
    all_better = all(sign * (c - p) < 0 for c in change for p in parent)
    spread = max(stats.iqr_share(parent), stats.iqr_share(change))
    if spread > bound and not all_better:
        return "unresolved", wins, losses, ties
    if sign * (mc - mp) / abs(mp) > bound:
        return "worse", wins, losses, ties
    return "within-bound", wins, losses, ties


def compare(parent: list[dict], change: list[dict], spec: dict) -> list[dict]:
    rows = []
    for name in [w["name"] for w in spec["workloads"]]:
        p_runs = [r for r in parent if r["workload"] == name]
        c_runs = [r for r in change if r["workload"] == name]
        if not p_runs or not c_runs:
            continue
        pairs = pair_up(p_runs, c_runs)
        for m in spec["end_to_end"]:
            key = m["name"]
            pv = [r["metrics"][key]["value"] for r in p_runs]
            cv = [r["metrics"][key]["value"] for r in c_runs]
            pp = [(a["metrics"][key]["value"], b["metrics"][key]["value"]) for a, b in pairs]
            v, wins, losses, ties = verdict(pv, cv, pp, m["better"], m["bound"])
            rows.append({
                "workload": name,
                "metric": key,
                "unit": m["unit"],
                "parent": stats.quartiles(pv),
                "change": stats.quartiles(cv),
                "n": (len(pv), len(cv)),
                "pairs": (wins, losses, ties),
                "bound": m["bound"],
                "verdict": v,
            })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare parent and change benchmark results.")
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    spec = json.loads(BENCHMARK.read_text())
    rows = compare(load(args.parent), load(args.change), spec)
    fmt = "{:<11} {:<21} {:>30} {:>30} {:>9} {:>6}  {}"
    print(fmt.format("workload", "metric", "parent q1/median/q3", "change q1/median/q3",
                     "W/L/T", "bound", "verdict"))
    for r in rows:
        p = "/".join(f"{x:.4g}" for x in r["parent"])
        c = "/".join(f"{x:.4g}" for x in r["change"])
        print(fmt.format(r["workload"], r["metric"], f"{p} {r['unit']}", f"{c} {r['unit']}",
                         "/".join(map(str, r["pairs"])), r["bound"], r["verdict"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
