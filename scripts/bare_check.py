#!/usr/bin/env python
"""Bare-session + freshly-wiped-GATE-stores determinism check
(VERDICT r13 ask #6 — previously an ad hoc /tmp script, now in-tree).

What it proves: every PERSISTED store the engine lazily builds under
GATE_DIR through ``queries/store.build_once`` (fixture media files,
the IVF inverted-list and partitioned-index layouts, trained
quantizers/centroids, kNN graphs and the base graph segment, BPE
lexicons, tar shards, and the events/orders layouts: date-partitioned,
schema-evolved, ORC, compacted and incrementally compacted) rebuilds
DETERMINISTICALLY — a bare ``SparkSession`` (none of session.py's
confs, the correctness driver's posture) starting from an empty store
directory must reach exactly the rows the DuckDB oracle recomputes
inline.  A store whose content depended on partitioning accidents,
wall-clock, or stale caches fails here.

Usage:
  python scripts/bare_check.py                      # default set, sf0.01
  python scripts/bare_check.py -q x291_ivf_persisted_search -q x305_tar_shard_roundtrip
  python scripts/bare_check.py --sf-dir /root/testdata/sf0.001 --keep-stores

Exit 0 iff every query matches its oracle value-identically.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# One consumer per persisted store family (similarity / graph /
# tokenizer / media fixtures / tar shards / scale layouts), so a wiped
# GATE_DIR forces every store kind to rebuild from scratch.
DEFAULT_QUERIES = [
    "x291_ivf_persisted_search",    # ivf_lists_path
    "x121_ivf_partitioned_index",   # ivf_index_path
    "x227_compaction_execute",      # tomb_index_path
    "x230_refined_ivf_search",      # lloyd_cent_path
    "x260_drift_reindex_execute",   # drift_retrain_cent_path + drift_index_path
    "x268_locdrift_reindex_execute",  # locdrift_index_path
    "x235_policy_routed_search",    # serving_occupancy_path
    "x248_graph_beam_search",       # knn_graph_path
    "x262_graph_tombstone_serve",   # knn2_graph_path
    "x259_policy_routed_graph_serve",  # adopted kNN graph store
    "x246_graph_compaction",        # base_graph_paths
    "x250_label_prop_cdc",          # base_lp_path
    "x267_policy_routed_retok",     # bpe_lexicon_path (swap at sf0.01)
    "x256_retok_execute",           # bpe_base_counts_path
    "x277_media_binaryfile_source",  # image fixture dir
    "x290_audio_binaryfile_source",  # audio fixture dir
    "x296_video_binaryfile_source",  # video fixture dir
    "x306_png_binaryfile_source",   # png fixture dir
    "x305_tar_shard_roundtrip",     # tar shard store
    "x96_partition_prune",          # events_partitioned_path
    "x105_schema_evolution",        # orders_evolved_path
    "x108_orc_roundtrip",           # events_orc_path
    "x265_layout_compact_execute",  # compacted_events_path
    "x273_append_optimize_execute",  # incremental_events_path
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return f"b:{v}"
    return repr(v)


def _rowset(rows) -> list[str]:
    return sorted("|".join(_canon(v) for v in row) for row in rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-q", "--query", action="append", default=None)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--keep-stores",
        action="store_true",
        help="skip wiping GATE_DIR (checks warm-store consistency instead)",
    )
    args = ap.parse_args()
    names = args.query or DEFAULT_QUERIES

    from json_to_parquet_spark.queries.convert_gate import GATE_DIR

    if not args.keep_stores:
        shutil.rmtree(GATE_DIR, ignore_errors=True)
        print(f"wiped {GATE_DIR}")

    # BARE session — deliberately none of session.py's confs.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("bare_check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'"
        )

    from json_to_parquet_spark.queries import registry

    reg = registry()
    failed = []
    for name in names:
        spec = reg.get(name)
        if spec is None:
            failed.append((name, "not registered"))
            print(f"FAIL {name}: not registered")
            continue
        t0 = time.time()
        try:
            sdf = spec.spark(spark, args.sf_dir)
            srows = _rowset(tuple(r) for r in sdf.collect())
            scols = sorted(sdf.columns)
            if spec.oracle is None:
                print(
                    f"ok   {name}: {len(srows)} rows (rows-only, no oracle)"
                    f" [{time.time() - t0:.1f}s]"
                )
                continue
            res = con.execute(spec.oracle)
            ocols = sorted(d[0] for d in res.description)
            orows = _rowset(res.fetchall())
            if scols != ocols:
                raise AssertionError(f"columns differ: {scols} vs {ocols}")
            if srows != orows:
                diff = next(
                    (i for i, (a, b) in enumerate(zip(srows, orows)) if a != b),
                    min(len(srows), len(orows)),
                )
                raise AssertionError(
                    f"rows differ ({len(srows)} vs {len(orows)}; first "
                    f"divergence at {diff})"
                )
            print(
                f"ok   {name}: {len(srows)} rows value-identical"
                f" [{time.time() - t0:.1f}s]"
            )
        except Exception as e:  # noqa: BLE001 — report and continue
            failed.append((name, str(e).splitlines()[0][:200]))
            print(f"FAIL {name}: {str(e).splitlines()[0][:200]}")
    print(
        f"bare_check: {len(names) - len(failed)}/{len(names)} green"
        + (f"; FAILURES: {[n for n, _ in failed]}" if failed else "")
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
