"""End-to-end convert pipeline parity tests (FIXTURES.md §A assertions):
timestamps at every ``_dt`` site and nowhere else; rows sorted by ``time``;
sorted and shuffled inputs produce identical output; heterogeneous sibling
structs infer as the key-union with nulls; sort skipped when column absent."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from json_to_parquet_spark.operators.convert import convert, derive_output_name
from tests.findings_fixture import DT_PATHS, write_fixture


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("findings")
    return write_fixture(str(d), n=300)


def _collect_sorted(spark, path):
    df = spark.read.parquet(path)
    return df.orderBy("time").collect(), df


def test_convert_end_to_end(spark, fixture_paths, tmp_path):
    sorted_path, shuffled_path = fixture_paths
    res = convert(spark, shuffled_path, str(tmp_path / "out"), mode="global")
    assert res.rows == 300
    assert res.sorted_by == "time"
    assert sorted(res.rewritten_dt_paths) == DT_PATHS

    out = spark.read.parquet(str(tmp_path / "out"))
    # every _dt site is a timestamp and no string *_dt remains
    from tests.test_dt_rewrite import _ts_sites

    assert sorted(_ts_sites(out.schema)) == DT_PATHS
    # globally sorted ascending by time
    times = [r.time for r in out.select("time").collect()]
    assert times == sorted(times)


def test_sorted_and_shuffled_inputs_identical_output(spark, fixture_paths, tmp_path):
    sorted_path, shuffled_path = fixture_paths
    convert(spark, sorted_path, str(tmp_path / "a"), mode="global")
    convert(spark, shuffled_path, str(tmp_path / "b"), mode="global")
    rows_a, _ = _collect_sorted(spark, str(tmp_path / "a"))
    rows_b, _ = _collect_sorted(spark, str(tmp_path / "b"))
    assert rows_a == rows_b


def test_cluster_mode_range_partitioned(spark, fixture_paths, tmp_path):
    """Scale path: per-file sorted, file ranges non-overlapping on `time`."""
    _, shuffled_path = fixture_paths
    res = convert(spark, shuffled_path, str(tmp_path / "c"), mode="cluster")
    assert res.rows == 300
    pieces = []
    import glob

    for f in sorted(glob.glob(str(tmp_path / "c" / "*.parquet"))):
        t = pq.read_table(f, columns=["time"])["time"].to_pylist()
        assert t == sorted(t)  # sorted within each file
        if t:
            pieces.append((min(t), max(t)))
    pieces.sort()
    for (_, hi), (lo, _) in zip(pieces, pieces[1:]):
        assert hi < lo  # file ranges don't overlap → min/max pruning works


def test_sort_skipped_when_column_absent(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    res = convert(spark, df, str(tmp_path / "nosort"), sort_column="missing")
    assert res.sorted_by is None
    assert res.rows == 2


def test_zstd_compression_and_no_int96(spark, fixture_paths, tmp_path):
    _, shuffled_path = fixture_paths
    convert(spark, shuffled_path, str(tmp_path / "z"), mode="global")
    import glob

    f = glob.glob(str(tmp_path / "z" / "*.parquet"))[0]
    meta = pq.ParquetFile(f).metadata
    assert meta.row_group(0).column(0).compression.lower() == "zstd"
    sch = pq.read_schema(f)
    assert "INT96" not in str(sch)  # TIMESTAMP_MICROS, not deprecated INT96


def test_output_naming_rule():
    # full key path is kept (reference pyarrow/main.py:120-121): distinct
    # prefixes must not collide at the same output name
    assert derive_output_name("foo/bar.ndjson.gz") == "foo/bar.zst.parquet"
    assert derive_output_name("a/data.ndjson.gz") != derive_output_name(
        "b/data.ndjson.gz"
    )
    assert derive_output_name("x.ndjson.gz", "gzip") == "x.gz.parquet"
    with pytest.raises(ValueError):
        derive_output_name("x.ndjson.gz", "lz4")


def test_partitioned_sink(spark, fixture_paths, tmp_path):
    """partition_by writes hive layout; every partition dir's rows are
    sorted by the sort column; totals and _dt rewrite are unaffected."""
    import glob
    import os

    _, shuffled_path = fixture_paths
    dest = str(tmp_path / "out_part")
    res = convert(
        spark, shuffled_path, dest, mode="cluster", partition_by=["severity"]
    )
    assert res.rows == 300
    dirs = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(dest, "severity=*"))
    )
    assert dirs and all(d.startswith("severity=") for d in dirs)

    back = spark.read.parquet(dest)
    assert back.count() == 300
    assert dict(back.groupBy().count().collect()[0].asDict()) == {"count": 300}
    for d in glob.glob(os.path.join(dest, "severity=*")):
        for f in glob.glob(os.path.join(d, "*.parquet")):
            times = pq.read_table(f, columns=["time"]).column("time").to_pylist()
            assert times == sorted(times), f

    with pytest.raises(ValueError):
        convert(spark, shuffled_path, dest, mode="global", partition_by=["severity"])


def test_multi_file_input_keeps_native_parallelism(spark, tmp_path, monkeypatch):
    """read_ndjson_parallel must NOT inject a repartition when the input is
    already parallel (many objects) — the at-scale shape."""
    import gzip
    import json

    from json_to_parquet_spark.sources import ndjson
    from json_to_parquet_spark.sources.ndjson import (
        read_ndjson_parallel,
        release_parallel_read,
    )

    monkeypatch.setattr(ndjson, "_default_cpus", lambda: 4)

    d = tmp_path / "many"
    d.mkdir()
    for i in range(6):
        with gzip.open(d / f"f{i}.ndjson.gz", "wt") as f:
            for j in range(10):
                f.write(json.dumps({"time": i * 100 + j}) + "\n")
    df = read_ndjson_parallel(spark, str(d))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # already-parallel input uses the native file scan (pushdown-capable),
    # no injected repartition
    assert "RoundRobinPartitioning" not in plan
    assert "FileScan json" in plan
    assert df.count() == 60

    # single local gz object → SPILL to a splittable temp file and use the
    # native scan (pushdown-capable; Spark splits it per core)
    import os

    single = read_ndjson_parallel(spark, str(d / "f0.ndjson.gz"))
    spill_dir = getattr(single, "_graft_spill_dir", None)
    assert spill_dir is not None and os.path.isdir(spill_dir)
    plan1 = single._jdf.queryExecution().executedPlan().toString()
    assert "FileScan json" in plan1
    assert "RoundRobinPartitioning" not in plan1
    assert single.count() == 10
    release_parallel_read(spark, single)

    # remote/no-spill fallback: round-robin the raw lines; inference and
    # parse run over the cached line frame (>= target partitions)
    monkeypatch.setattr(ndjson, "_spill_to_splittable", lambda path: None)
    fallback = read_ndjson_parallel(spark, str(d / "f0.ndjson.gz"))
    assert fallback.rdd.getNumPartitions() >= 4
    assert fallback.count() == 10
    cache = getattr(fallback, "_graft_text_cache", None)
    if cache is not None:
        cache.unpersist()


def test_sampling_ratio_inference(spark, tmp_path):
    """Opt-in sampled inference: on a structurally homogeneous feed the
    sampled schema equals the full-union schema (and the parse is
    unchanged); the option must be ignored when a schema is pinned."""
    import gzip
    import json as _json

    from json_to_parquet_spark.sources.ndjson import read_ndjson

    p = str(tmp_path / "h.ndjson.gz")
    with gzip.open(p, "wt") as f:
        for i in range(2000):
            f.write(_json.dumps({"a": i, "b": f"s{i}", "c": i / 2.0}) + "\n")
    full = read_ndjson(spark, p)
    sampled = read_ndjson(spark, p, sampling_ratio=0.05)
    assert sampled.schema == full.schema
    assert sampled.count() == 2000  # sampling affects inference, not rows


# --- range bounds from the spill file (partitioning="bounds") -------------

_BOUNDS_ROWS = 20_000  # ~6 MiB of JSON: the spill sample holds far more
# lines than the session's shuffle partitions


def _write_times(path, times, extra=None):
    """A gz NDJSON object with one record per ``times`` entry (None writes
    a null ``time``) and a ~300-byte payload, plus one ``_dt`` site."""
    import gzip
    import json

    with gzip.open(path, "wt") as f:
        for i, t in enumerate(times):
            rec = {
                "time": t,
                "id": i,
                "payload": "x" * 280,
                "meta": {"seen_dt": "2025-01-01T00:00:00Z"},
            }
            rec.update(extra(i) if extra else {})
            f.write(json.dumps(rec) + "\n")
    return str(path)


def _check_sorted_ranges(dest):
    """Per-file ascending sort (nulls first) and, per output directory,
    strictly non-overlapping file ranges; nulls in at most one file.
    Returns (rows, non-null values) over all files."""
    import glob
    import os

    by_dir: dict[str, list] = {}
    rows, values = 0, []
    for f in glob.glob(os.path.join(dest, "**", "*.parquet"), recursive=True):
        t = pq.read_table(f, columns=["time"])["time"].to_pylist()
        rows += len(t)
        nulls = sum(v is None for v in t)
        assert all(v is None for v in t[:nulls]), f  # nulls first
        vals = t[nulls:]
        assert None not in vals and vals == sorted(vals), f
        values += vals
        by_dir.setdefault(os.path.dirname(f), []).append((nulls, vals))
    for files in by_dir.values():
        assert sum(1 for nulls, _ in files if nulls) <= 1
        ranges = sorted((v[0], v[-1]) for _, v in files if v)
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi < lo, ranges
    return rows, values


def _bounds_case(spark, tmp_path, times, **kw):
    src = _write_times(tmp_path / "obj.ndjson.gz", times)
    dest = str(tmp_path / "out")
    res = convert(spark, src, dest, mode="cluster", **kw)
    rows, values = _check_sorted_ranges(dest)
    assert res.rows == rows == len(times)
    assert sum(values) == sum(t for t in times if t is not None)
    assert res.rewritten_dt_paths == ["meta.seen_dt"]
    return res


def test_bounds_skewed_time(spark, tmp_path):
    import random

    rng = random.Random(7)
    times = [
        1_700_000_000_000 if rng.random() < 0.9 else rng.randrange(10**12, 2 * 10**12)
        for _ in range(_BOUNDS_ROWS)
    ]
    res = _bounds_case(spark, tmp_path, times)
    assert res.partitioning == "bounds"


def test_bounds_null_time(spark, tmp_path):
    import random

    rng = random.Random(8)
    times = [
        None if i % 10 == 0 else rng.randrange(10**12) for i in range(_BOUNDS_ROWS)
    ]
    res = _bounds_case(spark, tmp_path, times)
    assert res.partitioning == "bounds"


def test_bounds_presorted_time(spark, tmp_path):
    res = _bounds_case(spark, tmp_path, list(range(_BOUNDS_ROWS)))
    assert res.partitioning == "bounds"


def test_string_time_falls_back_to_range(spark, tmp_path):
    import random

    rng = random.Random(9)
    ints = [rng.randrange(10**9) for _ in range(_BOUNDS_ROWS)]
    src = _write_times(tmp_path / "obj.ndjson.gz", [f"t{v:010d}" for v in ints])
    dest = str(tmp_path / "out")
    res = convert(spark, src, dest, mode="cluster")
    assert res.partitioning == "range"
    rows, values = _check_sorted_ranges(dest)
    assert res.rows == rows == len(ints)
    assert sum(int(v[1:]) for v in values) == sum(ints)


def test_partition_by_falls_back_to_range(spark, tmp_path):
    import random

    rng = random.Random(10)
    times = [rng.randrange(10**12) for _ in range(_BOUNDS_ROWS)]
    src = _write_times(
        tmp_path / "obj.ndjson.gz", times, extra=lambda i: {"part": i % 3}
    )
    dest = str(tmp_path / "out")
    res = convert(spark, src, dest, mode="cluster", partition_by=["part"])
    assert res.partitioning == "range"
    rows, values = _check_sorted_ranges(dest)
    assert res.rows == rows == len(times)
    assert sum(values) == sum(times)


def test_bounds_path_saves_the_sampling_job(spark, tmp_path, monkeypatch):
    """A spilled cluster convert runs one Spark job fewer than the same
    object forced down the range path: the range exchange's sampling job."""
    import importlib
    import uuid

    # the package re-exports the function under the module's name
    convert_mod = importlib.import_module("json_to_parquet_spark.operators.convert")

    src = _write_times(tmp_path / "obj.ndjson.gz", list(range(_BOUNDS_ROWS)))
    sc = spark.sparkContext

    def jobs(dest):
        group = f"convert-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            res = convert(spark, src, str(tmp_path / dest), mode="cluster")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return res.partitioning, len(sc.statusTracker().getJobIdsForGroup(group))

    bounds = jobs("a")
    monkeypatch.setattr(convert_mod, "sample_spill", lambda *a: None)
    ranged = jobs("b")
    assert (bounds[0], ranged[0]) == ("bounds", "range")
    assert bounds[1] == ranged[1] - 1, (bounds, ranged)


def test_phases_sum_to_wall(spark, fixture_paths, tmp_path):
    import time

    _, shuffled_path = fixture_paths
    t0 = time.perf_counter()
    res = convert(spark, shuffled_path, str(tmp_path / "p"))
    wall = time.perf_counter() - t0
    assert list(res.phases) == ["read_s", "rewrite_s", "write_s"]
    assert all(v >= 0 for v in res.phases.values())
    assert abs(sum(res.phases.values()) - wall) <= 0.1 * wall, (res.phases, wall)


def test_spilled_convert_leaves_session_conf_alone(spark, tmp_path):
    """A spilled object is converted without moving any session conf, and
    its scan still fans out over the cores. (A failing convert and the
    direct caller's release are pinned in test_round6_invariants.)"""
    import gzip
    import json
    import os

    from json_to_parquet_spark.sources.ndjson import (
        read_ndjson_parallel,
        release_parallel_read,
    )

    src = tmp_path / "one.ndjson.gz"
    with gzip.open(src, "wt") as f:
        for i in range(100_000):
            f.write(json.dumps({"time": (i * 7919) % 100_000, "v": "x" * 100}) + "\n")
    before = spark.conf.getAll

    res = convert(spark, str(src), str(tmp_path / "ok"))
    assert (res.rows, res.partitioning) == (100_000, "bounds")
    assert spark.conf.getAll == before

    df = read_ndjson_parallel(spark, str(src))
    try:
        spilled = os.path.join(df._graft_spill_dir, "one.ndjson")
        assert os.path.getsize(spilled) > 12_000_000
        # Spark's own per-core split sizing keeps the scan parallel
        assert df.rdd.getNumPartitions() >= 2
        assert df.count() == 100_000
    finally:
        release_parallel_read(spark, df)
    assert spark.conf.getAll == before


def test_empty_partitioned_convert(spark, tmp_path):
    """An empty frame written with partition_by leaves no data file; the
    row count comes from the write itself, so this is 0 rows, not an
    error from reading the empty output back."""
    empty = spark.createDataFrame([], "time long, sev string")
    res = convert(spark, empty, str(tmp_path / "out"), partition_by=["sev"])
    assert res.rows == 0
    assert res.schema_after == "struct<time:bigint,sev:string>"


def test_dotted_json_keys_convert(spark, tmp_path):
    """JSON keys with dots are single fields, at the top level and nested,
    and a dotted ``_dt`` key is still rewritten."""
    import gzip
    import json

    src = tmp_path / "dots.ndjson.gz"
    with gzip.open(src, "wt") as f:
        for i in range(50):
            rec = {
                "time": 50 - i,
                "k8s.pod": f"pod-{i}",
                "a.b_dt": "2025-01-01T00:00:00Z",
                "meta": {"x.y_dt": "2025-02-01T00:00:00Z", "n.m": i},
            }
            f.write(json.dumps(rec) + "\n")
    dest = str(tmp_path / "out")
    res = convert(spark, str(src), dest, mode="global")
    assert res.rows == 50
    assert sorted(res.rewritten_dt_paths) == ["a.b_dt", "meta.x.y_dt"]
    out = spark.read.parquet(dest)
    types = dict((f.name, f.dataType) for f in out.schema.fields)
    assert types["a.b_dt"].typeName() == "timestamp"
    assert types["meta"]["x.y_dt"].dataType.typeName() == "timestamp"
    assert types["k8s.pod"].typeName() == "string"
    first = out.collect()[0]
    assert first["k8s.pod"] == "pod-49" and first["meta"]["n.m"] == 49


def test_sample_spill_reads_whole_lines(tmp_path):
    """The spill sample parses only whole lines, each at most once; a
    missing key reads as None and a non-object line gives up (None)."""
    import json

    from json_to_parquet_spark.sources.ndjson import sample_spill

    d = tmp_path / "spill"
    d.mkdir()
    lines = [json.dumps({"time": i, "pad": "y" * (i % 7)}) for i in range(50)]
    lines[3] = json.dumps({"other": 1})
    (d / "obj.ndjson").write_text("\n".join(lines) + "\n")
    got = sample_spill(str(d), "time", 20)
    assert 0 < len(got) <= 20 and got[0] == 0
    assert all(v is None or 0 <= v < 50 for v in got)
    assert len([v for v in got if v is not None]) == len({v for v in got if v is not None})
    assert len(sample_spill(str(d), "time", 500)) == 50  # every line, once

    (d / "obj.ndjson").write_text("\n".join([*lines[:10], "[1, 2]"]) + "\n")
    assert sample_spill(str(d), "time", 11) is None
