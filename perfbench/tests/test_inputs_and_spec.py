"""Generator determinism, output checks and BENCHMARK.json validity."""

from __future__ import annotations

import gzip
import json
import re
from pathlib import Path

import pyarrow as pa

from perfbench import gen, run, workloads

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_findings_are_byte_identical_for_a_seed(tmp_path):
    a = gen.write_findings(str(tmp_path / "a.gz"), 300, seed=5)
    b = gen.write_findings(str(tmp_path / "b.gz"), 300, seed=5)
    c = gen.write_findings(str(tmp_path / "c.gz"), 300, seed=6)
    assert a == b
    assert (tmp_path / "a.gz").read_bytes() == (tmp_path / "b.gz").read_bytes()
    assert (tmp_path / "a.gz").read_bytes() != (tmp_path / "c.gz").read_bytes()


def test_findings_records_match_their_expected_values(tmp_path):
    meta = gen.write_findings(str(tmp_path / "f.gz"), 200, seed=1, index=2)
    raw = gzip.open(tmp_path / "f.gz").read()
    records = [json.loads(line) for line in raw.splitlines()]
    assert meta["rows"] == len(records) == 200
    assert meta["ndjson_bytes"] == len(raw)
    times = [r["time"] for r in records]
    assert meta["time_sum"] == sum(times)
    assert times != sorted(times)  # shuffled, so the sort does work
    r = records[0]
    assert r["time_dt"].endswith("Z") and r["metadata"]["product"]["my_dt"]
    info0, info1 = r["finding_info_list"]
    assert "created_time_dt" in info0 and "first_seen_time_dt" in info1
    assert all("modified_time_dt" in e for e in info0["related_events"])
    attacks = info0["related_events"][0]["attacks"]
    assert "semantic" in attacks[2] and "version" not in attacks[2]


def test_findings_objects_of_one_seed_are_distinct(tmp_path):
    (p0, m0), (p1, m1) = gen.findings_set(str(tmp_path), 100, seed=3, count=2)
    assert Path(p0).read_bytes() != Path(p1).read_bytes()
    assert m0["time_sum"] != m1["time_sum"]
    # cached: a second call returns the same files without rewriting
    assert gen.findings_set(str(tmp_path), 100, seed=3, count=2) == [(p0, m0), (p1, m1)]


def test_tables_are_deterministic_and_typed():
    a = gen.make_tables(0.001, seed=9)
    b = gen.make_tables(0.001, seed=9)
    assert set(a) == set(gen.TABLE_NAMES)
    for name in gen.TABLE_NAMES:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000
    assert a["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert a["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    docs = a["documents"].to_pydict()
    assert docs["n_chars"] == [len(t) for t in docs["text"]]


def test_field_type_walks_structs_and_lists():
    schema = pa.schema([
        ("time_dt", pa.timestamp("us")),
        ("info", pa.list_(pa.struct([("events", pa.list_(pa.struct([("m_dt", pa.string())])))]))),
    ])
    assert workloads.field_type(schema, "time_dt") == "timestamp[us]"
    assert workloads.field_type(schema, "info[].events[].m_dt") == "string"
    assert workloads.field_type(schema, "info[].missing") is None
    assert workloads.field_type(schema, "time_dt[]") is None


def test_rowset_digest_ignores_row_and_column_order():
    a = workloads.rowset_digest(["x", "y"], [(1, 2.5), (3, None)])
    b = workloads.rowset_digest(["y", "x"], [(None, 3), (2.5, 1)])
    c = workloads.rowset_digest(["x", "y"], [(1, 2.5000001), (3, None)])
    assert a == b
    assert a != c


def test_benchmark_json_is_valid_and_matches_the_run():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert spec["paths"] == ["perfbench"]
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    assert sorted(names) == sorted(workloads.WORKLOADS)
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in layer:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + layer:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    all_names = names + [m["name"] for m in e2e + layer]
    assert len(all_names) == len(set(all_names))
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in e2e)
    # the run reports exactly these metrics, with these units
    ops = [{"key": "a", "wall": 1.0}, {"key": "b", "wall": 2.0}]
    reported = run.end_to_end(ops, setup_s=3.0)
    assert {k: u for k, (_, u, _) in reported.items()} == {m["name"]: m["unit"] for m in e2e}
    assert run.PER_LAYER_UNITS == {m["name"]: m["unit"] for m in layer}
    assert len((ROOT / "BENCHMARK.json").read_bytes()) <= 64 * 1024
