"""The benchmark's two workloads.

Each is a closed loop with one client: the next op starts only when the
previous one has finished. An op is one object converted (``convert``)
or one registry entry run to the noop sink (``heavy_tail``).

* ``convert`` converts distinct 50k-record findings objects with
  ``mode="cluster"`` and per-object schema inference, the reference's
  per-invocation semantics. Time goes to ``sources.ndjson``,
  ``functions.dt_rewrite`` and ``operators.convert``; it writes.
* ``heavy_tail`` runs entries whose time is mostly spent building the
  DataFrame: connected-components rounds, stream drains, checkpoints and
  fixture writes. It reads and writes.

Each bypasses the other's code, so a change aimed at one layer shows on
one workload and should leave the other flat.

Every op's output is checked outside the timed region; see
``check_op`` and ``warm_up``.
"""

from __future__ import annotations

import glob
import importlib
import hashlib
import json
import math
import os
import random
import time

from perfbench import gen
from perfbench.trace import NullTracer

CONVERT_RECORDS = 50_000
CONVERT_OBJECTS = 2
# Ops a round; one run is one round at the benchmark's run length. Six
# give each object three timed conversions.
CONVERT_ROUND_OPS = 6

# The tables are the same for every seed: the program keeps on-disk stores
# keyed on a data fingerprint, and a deployment keeps them across runs. The
# seed orders the queries.
TABLE_SF = 0.1
TABLE_SEED = 42

# Left out to keep a run under a minute: x275 (stream append + OPTIMIZE;
# x278 has the same micro-batch sink and checkpoint shape) and x247 (graph
# knob sweep; ~60% build, the least build-dominated). Together they cost
# ~20 s a run.
HEAVY_TAIL = [
    "x293_image_neardup_clusters",
    "x278_stream_media_decode",
    "x208_kcenter_coreset",
]
# Passes a round, each in its own seeded order: two give each entry two
# timed samples.
HEAVY_TAIL_PASSES = 2


class ConvertWorkload:
    name = "convert"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.dest = os.path.join(work, "out", "convert")

    def prepare(self) -> None:
        inputs = os.path.join(self.work, "inputs")
        self.objects = gen.findings_set(inputs, CONVERT_RECORDS, self.seed, CONVERT_OBJECTS)

    def round(self, rng: random.Random) -> list[int]:
        """The objects in turn, from a seeded first one."""
        start = rng.randrange(len(self.objects))
        return [(start + i) % len(self.objects) for i in range(CONVERT_ROUND_OPS)]

    def _convert(self, spark, obj, tracer):
        # the package re-exports the function under the module's name
        convert_mod = importlib.import_module("json_to_parquet_spark.operators.convert")

        with tracer.span("operators.convert"):
            return convert_mod.convert(spark, obj[0], self.dest, mode="cluster")

    def warm_up(self, spark, rng: random.Random) -> list[dict]:
        """Convert each object once (the first conversion after start-up
        alone leaves the next one still ~20% slow); returns each op's key,
        wall time and errors."""
        ops = []
        for key, obj in enumerate(self.objects):
            t0 = time.perf_counter()
            res = self._convert(spark, obj, NullTracer())
            wall = time.perf_counter() - t0
            ops.append({"key": key, "wall": wall, "errors": self._check(obj[1], res)[0]})
        return ops

    def run_op(self, spark, key: int, tracer) -> dict:
        return {"result": self._convert(spark, self.objects[key], tracer)}

    def check_op(self, key: int, info: dict) -> list[str]:
        errors, out = self._check(self.objects[key][1], info.pop("result"))
        info.update(out)
        return errors

    def _check(self, meta: dict, res) -> tuple[list[str], dict]:
        """Rows, rewritten ``_dt`` paths and their TIMESTAMP type, per-file
        sort on ``time`` with non-overlapping file ranges, and the sum of
        ``time`` against the generator's."""
        import numpy as np
        import pyarrow.parquet as pq

        errors = []
        if res.rows != meta["rows"]:
            errors.append(f"convert: rows {res.rows} != {meta['rows']}")
        if sorted(res.rewritten_dt_paths) != gen.DT_PATHS:
            errors.append(f"convert: rewritten paths {res.rewritten_dt_paths}")
        files = sorted(glob.glob(os.path.join(self.dest, "*.parquet")))
        if not files:
            return errors + ["convert: no output files"], {}
        schema = pq.read_schema(files[0])
        for path in gen.DT_PATHS:
            kind = field_type(schema, path)
            if kind is None or not kind.startswith("timestamp"):
                errors.append(f"convert: {path} is {kind}, not a timestamp")
        ranges = []
        total = 0
        for f in files:
            t = pq.read_table(f, columns=["time"]).column(0).to_numpy()
            if len(t) == 0:
                continue
            if np.any(np.diff(t) < 0):
                errors.append(f"convert: {os.path.basename(f)} not sorted on time")
            ranges.append((int(t[0]), int(t[-1])))
            total += int(t.sum())
        ranges.sort()
        if any(a[1] >= b[0] for a, b in zip(ranges, ranges[1:])):
            errors.append("convert: output file time ranges overlap")
        if total != meta["time_sum"]:
            errors.append(f"convert: time sum {total} != {meta['time_sum']}")
        out_bytes = sum(os.path.getsize(f) for f in files)
        return errors, {
            "output_files": len(files),
            "output_bytes_ratio": out_bytes / meta["ndjson_bytes"],
        }


def field_type(schema, dotted: str) -> str | None:
    """Type string of a field addressed like ``a.b[].c`` in a pyarrow
    schema, or None when absent."""
    import pyarrow as pa

    typ = pa.struct(list(schema))
    for part in dotted.split("."):
        is_list = part.endswith("[]")
        name = part[:-2] if is_list else part
        if not pa.types.is_struct(typ) or typ.get_field_index(name) < 0:
            return None
        typ = typ.field(name).type
        if is_list:
            if not pa.types.is_list(typ):
                return None
            typ = typ.value_type
    return str(typ)


class HeavyTailWorkload:
    """Registry entries run in rounds of ``HEAVY_TAIL_PASSES`` passes."""

    name = "heavy_tail"

    def __init__(self, work: str):
        self.work = work

    def prepare(self) -> None:
        self.data = gen.write_tables(
            os.path.join(self.work, "data", f"sf{TABLE_SF}-seed{TABLE_SEED}"),
            TABLE_SF,
            TABLE_SEED,
        )
        from json_to_parquet_spark.queries import registry

        self.registry = registry()

    def _pass(self, rng: random.Random) -> list[str]:
        order = list(HEAVY_TAIL)
        rng.shuffle(order)
        return order

    def round(self, rng: random.Random) -> list[str]:
        return [key for _ in range(HEAVY_TAIL_PASSES) for key in self._pass(rng)]

    def warm_up(self, spark, rng: random.Random) -> list[dict]:
        """One pass that collects each entry's rows instead of discarding
        them, checked against the entry's DuckDB oracle; returns each op's
        key, wall time and errors."""
        ops = []
        for key in self._pass(rng):
            t0 = time.perf_counter()
            df = self.registry[key].spark(spark, self.data)
            columns = df.columns
            rows = df.collect()
            wall = time.perf_counter() - t0
            ops.append({"key": key, "wall": wall, "errors": self._check(key, columns, rows)})
        return ops

    def run_op(self, spark, key: str, tracer) -> dict:
        with tracer.span("queries.build"):
            df = self.registry[key].spark(spark, self.data)
        if tracer.enabled:
            with tracer.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        df.write.mode("overwrite").format("noop").save()
        return {}

    def check_op(self, key: str, info: dict) -> list[str]:
        return []  # noop sink: the rows were checked in warm_up

    def _check(self, key: str, columns: list[str], rows) -> list[str]:
        want = self._oracle_digest(key)
        got = rowset_digest(columns, [tuple(r) for r in rows])
        return [] if got == want else [f"{key}: result {got} != oracle {want}"]

    def _oracle_digest(self, key: str) -> dict:
        """The oracle's digest, computed once per (oracle SQL, tables) and
        kept in the work dir: some oracles (x293's recursive CTE, ~30 s) take
        much longer than the entry."""
        import duckdb

        sql = self.registry[key].oracle
        tag = hashlib.sha256(f"{sql}\0{self.data}".encode()).hexdigest()[:16]
        path = os.path.join(self.work, "oracle", f"{key}-{tag}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        con = duckdb.connect()
        try:
            for t in gen.TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            res = con.execute(sql)
            digest = rowset_digest([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(digest, f)
        return digest


def _canon(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return f"b:{v}"
    return repr(v)


def rowset_digest(columns: list[str], rows: list[tuple]) -> dict:
    """Order-insensitive value hash of a result: columns by name, rows as
    a sorted multiset of full-precision value strings."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {
        "columns": sorted(columns),
        "rows": len(lines),
        "sha256": h.hexdigest(),
    }


def make(name: str, work: str, seed: int):
    if name == "convert":
        return ConvertWorkload(work, seed)
    if name == "heavy_tail":
        return HeavyTailWorkload(work)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("convert", "heavy_tail")
