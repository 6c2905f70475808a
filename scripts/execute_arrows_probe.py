"""Second-decade probe for the round-13 execute arrows + the demoted
x196 (VERDICT r10 asks #1/#2/#3/#7 follow-through).

Runs the new operators at sf0.1 / sfx1 / sfx10 (the scale_probe
fixtures, built with --build / --build --factor 100) and prints one
JSON object, recorded into SFX10_PROBE.json as `execute_arrows_r13`:

- x196 post-demotion: its query side is now a FIXED audit slice, so
  the measured exponent must fall from the 17.7x/decade the unbounded
  shape paid to at-or-below the linear wall.
- x256/x257: the vocabulary-swap execution — the corpus-sized term is
  one explode + word-keyed join (x256) / one semi-join (x257); the
  lexicon store build (cold) is timed separately from warm serving,
  the build/serve decomposition of f0551bf:scripts/graph_probe.py
  (GRAPH_PROBE.json).
- x258/x259: the graph adoption decision (audit-bounded 2-config
  sweep) and the beam serve routed through the adopted store.
- x260/x261: the drift re-index — each run pays x237's monitor (the
  decision), so rows are min-of-1 at sfx10 by the same cold-build
  protocol f0551bf:scripts/graph_probe.py used (GRAPH_PROBE.json).

Usage:
    python scripts/execute_arrows_probe.py [--runs N] [--skip-sfx10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALES = [
    ("sf0.1", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")),
    ("sfx1", os.environ.get("SPARK_GRAFT_SFX1_DIR", "/tmp/spark_graft_sfx1")),
    ("sfx10", os.environ.get("SPARK_GRAFT_SFX10_DIR", "/tmp/spark_graft_sfx10")),
]

PROBE = [
    "x196_ivf_bitext_mine",
    "x256_retok_execute",
    "x257_retok_io_plan",
    "x258_graph_config_policy",
    "x259_policy_routed_graph_serve",
    "x260_drift_reindex_execute",
    "x261_drift_reindex_io",
]

# Round-14 decide arrows + the localized re-index (--r14).  x270 is
# deliberately absent: it composes x254's drain (probed floor-flat
# across two decades in round 12) with x266's decision (probed here) —
# the x199 documented-composition precedent.
R14_PROBE = [
    "x266_retok_swap_policy",
    "x267_policy_routed_retok",
    "x268_locdrift_reindex_execute",
    "x269_locdrift_reindex_io",
]

# The round-14 warehouse loop (--r14b): decision + routed serve +
# incremental append merge + its ledger.  x271/x274 are date-spine
# metadata (expected floor-flat); x272/x273 scan the served layout
# (expected ~x265's 2.82×/decade shape, store builds on first run).
R14B_PROBE = [
    "x271_layout_compact_policy",
    "x272_policy_routed_layout_serve",
    "x273_append_optimize_execute",
    "x274_append_optimize_io",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--skip-sfx10", action="store_true")
    ap.add_argument("--r14", action="store_true")
    ap.add_argument("--r14b", action="store_true")
    args = ap.parse_args()

    from json_to_parquet_spark.queries import registry
    from json_to_parquet_spark.queries.tokenizer import bpe_lexicon_path
    from json_to_parquet_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        app_name="execute_arrows_probe",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    reg = registry()
    scales = [s for s in SCALES if not (args.skip_sfx10 and s[0] == "sfx10")]
    out: dict = {"runs": args.runs, "queries": {}}
    for sf_name, sf_dir in scales:
        if not os.path.isdir(sf_dir):
            print(f"skip {sf_name}: {sf_dir} missing", file=sys.stderr)
            continue
        # cold store build for the lexicon, timed separately (the
        # build/serve decomposition of f0551bf:scripts/graph_probe.py,
        # GRAPH_PROBE.json; the drift stores build
        # inside their first query run and are called out below).  If a
        # prior session already built this scale's store, the timing
        # would be a no-op path check — label it so the row can never
        # masquerade as a cold build (code-review r13 finding).
        t0 = time.time()
        dest = bpe_lexicon_path(spark, sf_dir)
        dt = round(time.time() - t0, 3)
        pre_existing = dt < 0.05 and os.path.exists(
            os.path.join(dest, "_RETOK_MIGRATED")
        )
        row_name = (
            "lexicon_build_warm_preexisting"
            if pre_existing
            else "lexicon_build_cold"
        )
        out["queries"].setdefault(row_name, {})[sf_name] = dt
        probe_set = PROBE
        if args.r14:
            probe_set = R14_PROBE
        elif args.r14b:
            probe_set = R14B_PROBE
        for name in probe_set:
            runs = 1 if sf_name == "sfx10" and name.startswith("x26") else args.runs
            best = None
            for i in range(runs):
                t0 = time.time()
                reg[name].spark(spark, sf_dir).collect()
                dt = time.time() - t0
                if i == 0:
                    out["queries"].setdefault(name, {}).setdefault(
                        "first_run", {}
                    )[sf_name] = round(dt, 3)
                best = dt if best is None else min(best, dt)
            out["queries"].setdefault(name, {})[sf_name] = round(best, 3)
            print(f"{sf_name} {name}: {best:.3f}s", file=sys.stderr)
    for name, row in out["queries"].items():
        if "sfx10" in row and row.get("sfx1"):  # skip 0.0 no-op path checks
            row["ratio_d2"] = round(row["sfx10"] / row["sfx1"], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
