"""Seeded input generators for the benchmark.

Two families, both owned here so that editing a test helper can never
change a workload:

* ``write_findings``: gzipped NDJSON "findings" objects with the shape of
  FIXTURES.md §A (4-level nesting, heterogeneous siblings, five ``_dt``
  string sites, epoch-ms ``time``), records written in shuffled order.
* ``write_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` with the column types and value domains
  of FIXTURES.md §B, at a given scale factor.

The same seed gives byte-identical files. Records are built as JSON text
directly (no dict + ``json.dumps``), which keeps a 100k-record object at a
few seconds of generation instead of ~11 s.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from datetime import datetime, timedelta

import numpy as np

# Every string ``_dt`` site of a findings record, as dotted paths; the
# convert pipeline must report exactly these as rewritten.
DT_PATHS = sorted(
    [
        "time_dt",
        "metadata.product.my_dt",
        "finding_info_list[].created_time_dt",
        "finding_info_list[].first_seen_time_dt",
        "finding_info_list[].related_events[].modified_time_dt",
    ]
)

_UNIX_EPOCH = datetime(1970, 1, 1)
_FINDINGS_EPOCH_MS = int((datetime(2025, 1, 1) - _UNIX_EPOCH).total_seconds() * 1000)
_HOUR = timedelta(hours=1)
_DAY = timedelta(days=1)


def _iso(dt: datetime) -> str:
    return dt.isoformat(timespec="milliseconds") + "Z"


def _attacks(rng: random.Random) -> str:
    parts = []
    for k in range(3):
        # heterogeneous siblings: the last element swaps version -> semantic
        head = f'"semantic": {rng.randint(1, 9)}' if k == 2 else '"version": "14.1"'
        tech = (
            f'{{"name": "tech", "uid": "T{k:04d}"}}'
            if k % 2
            else '{"name": "tech", "one": "x", "two": "y"}'
        )
        parts.append(
            f'{{{head}, "tactics": [{{"name": "tac{k}", "uid": "TA{k:04d}"}}], '
            f'"technique": {tech}}}'
        )
    return "[" + ", ".join(parts) + "]"


def findings_record(i: int, t_ms: int, rng: random.Random) -> str:
    """One findings record as a JSON line (without the newline)."""
    t = _UNIX_EPOCH + timedelta(milliseconds=t_ms)
    events = []
    for j in range(rng.randint(1, 3)):
        # heterogeneous: 'type' only on even elements
        typ = f'"type": "{rng.choice(("alert", "scan"))}", ' if j % 2 == 0 else ""
        events.append(
            f'{{"uid": "evt-{i}-{j}", {typ}"severity_id": {rng.randint(1, 5)}, '
            f'"attacks": {_attacks(rng)}, "created_time": {t_ms}, '
            f'"modified_time_dt": "{_iso(t + timedelta(minutes=j))}"}}'
        )
    info0 = (
        f'{{"title": "finding {i}.0", "uid": "f-{i}-0", "product_uid": "p-{i}", '
        f'"related_events": [{", ".join(events)}], '
        f'"related_events_count": {len(events)}, '
        f'"created_time_dt": "{_iso(t - _HOUR)}"}}'
    )
    info1 = (
        f'{{"title": "finding {i}.1", "uid": "f-{i}-1", '
        f'"analytic": {{"name": "an", "type": "rule", "type_id": 1}}, '
        f'"related_events": [], "related_events_count": 0, '
        f'"first_seen_time_dt": "{_iso(t - _DAY)}"}}'
    )
    severity = rng.choice(("Low", "Medium", "High"))
    duration = rng.randint(0, 3600)
    return (
        f'{{"message": "incident {i}", "severity": "{severity}", "time": {t_ms}, '
        f'"time_dt": "{_iso(t)}", "class_uid": 2005, "duration": {duration}, '
        f'"metadata": {{"version": "1.1.0", "product": {{"name": "synthetic", '
        f'"vendor_name": "fixture", "uid": "prod-{i % 7}", '
        f'"my_dt": "{_iso(t + timedelta(seconds=30))}"}}, '
        f'"profiles": ["incident", "datetime"], "tenant_uid": "tenant-{i % 3}"}}, '
        f'"finding_info_list": [{info0}, {info1}]}}'
    )


def write_findings(path: str, n: int, seed: int, index: int = 0) -> dict:
    """Write one shuffled findings object and return what a correct
    conversion of it must preserve: ``rows``, ``time_sum`` and the
    decompressed ``ndjson_bytes``.

    Object ``index`` of a seed covers its own time range, so the objects
    of one run are distinct."""
    rng = random.Random(f"{seed}/{index}")
    base_ms = _FINDINGS_EPOCH_MS + index * n * 1000
    order = list(range(n))
    rng.shuffle(order)
    tmp = path + ".part"
    time_sum = 0
    ndjson_bytes = 0
    # no name and mtime=0 in the gzip header, so the bytes repeat
    with open(tmp, "wb") as raw, gzip.GzipFile(
        filename="", fileobj=raw, mode="wb", compresslevel=1, mtime=0
    ) as gz:
        chunk = []
        for i in order:
            t_ms = base_ms + i * 1000
            time_sum += t_ms
            chunk.append(findings_record(index * n + i, t_ms, rng))
            if len(chunk) == 4096:
                data = ("\n".join(chunk) + "\n").encode()
                ndjson_bytes += len(data)
                gz.write(data)
                chunk = []
        if chunk:
            data = ("\n".join(chunk) + "\n").encode()
            ndjson_bytes += len(data)
            gz.write(data)
    os.replace(tmp, path)
    return {"rows": n, "time_sum": time_sum, "ndjson_bytes": ndjson_bytes}


def findings_set(work_dir: str, n: int, seed: int, count: int) -> list[tuple[str, dict]]:
    """``count`` distinct objects for ``seed``, generated once and cached
    on disk by (seed, size, index) together with their expected values."""
    out = []
    os.makedirs(work_dir, exist_ok=True)
    for k in range(count):
        path = os.path.join(work_dir, f"findings-s{seed}-n{n}-{k}.ndjson.gz")
        meta_path = path + ".json"
        if os.path.exists(path) and os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
        else:
            meta = write_findings(path, n, seed, k)
            with open(meta_path, "w") as f:
                json.dump(meta, f)
        out.append((path, meta))
    return out


# --- tables -----------------------------------------------------------------

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]  # en twice: ~1/3 of documents
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_NEAR_DUP_SHARE = 0.05


def _day_stamps(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    return np.datetime64(start, "us") + rng.integers(0, days, n).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def make_tables(sf: float, seed: int) -> dict:
    """The ten tables as pyarrow Tables, row counts scaled by ``sf``
    (lineitem = 6M × sf)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    ts = pa.timestamp("us")

    def ids(n):
        return pa.array(np.arange(n, dtype=np.int64))

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": ids(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": ids(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": ids(n_part),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": ids(n_ord),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(_day_stamps(rng, n_ord, "1995-01-01", 2404), ts),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(_day_stamps(rng, n_line, "1995-01-02", 2498), ts),
        }),
    }

    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    tables["events"] = pa.table({
        "event_id": ids(n_ev),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    words = np.asarray(_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < _NEAR_DUP_SHARE:
            # near-duplicate: an earlier document plus one marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    tables["documents"] = pa.table({
        "doc_id": ids(n_doc),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": ids(n_emb),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return tables


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    """Materialize ``make_tables`` as ``<out_dir>/<table>.parquet`` once
    per (seed, sf) and return the directory."""
    import pyarrow.parquet as pq

    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w"):
        pass
    return out_dir
