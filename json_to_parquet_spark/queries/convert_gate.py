"""q00 — the reference's flagship convert pipeline as a gate query.

The reference's entire end-to-end surface (scan gzipped NDJSON → infer
schema → recursive ``_dt`` rewrite → global sort → tuned Parquet sink;
/root/reference/pyarrow/main.py:94-169) was pytest-only evidence in
round 1. This module runs the REAL pipeline — ``operators.convert`` on a
deterministic gzipped NDJSON fixture with ``_dt`` sites at all three
nesting shapes (top level, struct, list<struct>) — and exposes the
written Parquet through the correctness gate, compared against a DuckDB
``read_json`` + ``strptime`` oracle over the same fixture file.

The fixture is generated on demand at a fixed path with fully
deterministic content (no randomness, atomic rename), so the Spark side
and the DuckDB oracle always read identical bytes regardless of which
engine the driver runs first.
"""

from __future__ import annotations

import datetime
import gzip
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, register
from .store import GATE_DIR
# v2: variable-length item lists (incl. empty), list<struct> nested inside
# a struct, and null _dt values.  The path is versioned because the
# fixture is generated lazily and cached — an old cached v1 file must
# never satisfy the v2 reader.
FIXTURE_PATH = os.path.join(GATE_DIR, "convert_gate_v2.ndjson.gz")
OUTPUT_PATH = os.path.join(GATE_DIR, "out_q00")

_N_ROWS = 400
_BASE_EPOCH = 1735689600  # 2025-01-01T00:00:00Z, whole seconds
_ISO = "%Y-%m-%dT%H:%M:%SZ"


def _iso(epoch_s: int) -> str:
    return datetime.datetime.fromtimestamp(epoch_s, datetime.timezone.utc).strftime(
        _ISO
    )


def _record(i: int) -> dict:
    """One fixture row covering every ``_dt`` shape the reference's
    recursive rewrite handles (/root/reference/pyarrow/main.py:258-279):
    top-level, struct member, list<struct> element, and list<struct>
    nested INSIDE a struct — plus the null/ragged cases that break naive
    rewrites: a null ``_dt`` value every 13th row, a 1-element item list
    every 7th row, a 3-element list every 11th, and an empty ``events``
    list every 5th."""
    t = _BASE_EPOCH + i
    items = [
        {"uid": f"u{i:04d}a", "created_time_dt": _iso(t - 86400)},
        {"uid": f"u{i:04d}b", "created_time_dt": _iso(t - 3600)},
    ]
    if i % 7 == 0:
        items = items[:1]
    elif i % 11 == 0:
        items.append({"uid": f"u{i:04d}c", "created_time_dt": _iso(t - 60)})
    events = (
        []
        if i % 5 == 0
        else [{"kind": f"k{i % 3}", "at_dt": _iso(t + 30)}]
    )
    return {
        "id": i,
        "time": t * 1000,  # epoch millis, like the reference generator
        "time_dt": None if i % 13 == 0 else _iso(t),
        "meta": {
            "name": f"prod{i % 5}",
            "my_dt": _iso(t + 7),
            "events": events,
        },
        "items": items,
    }


def ensure_convert_fixture(path: str = FIXTURE_PATH) -> str:
    """Write the deterministic gate fixture if absent (atomic rename, so a
    concurrent Spark/DuckDB reader never sees a partial file). Rows are
    written in a fixed non-monotonic permutation (stride 7 mod 400) so the
    convert pipeline's sort actually has work to do."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with gzip.open(tmp, "wt") as f:
        for j in range(_N_ROWS):
            f.write(json.dumps(_record((j * 7) % _N_ROWS)) + "\n")
    os.replace(tmp, path)
    return path


def q00_convert_dt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the full convert pipeline (inference + ``_dt`` rewrite + global
    sort + tuned Parquet write) and return the written output, projected to
    driver-sortable scalars (timestamps → epoch micros, helpers.py rule 4)."""
    from ..operators.convert import convert

    src = ensure_convert_fixture()
    convert(spark, src, OUTPUT_PATH, sort_column="time", mode="global")
    out = spark.read.parquet(OUTPUT_PATH)
    # F.get is 0-based and null-safe on ragged lists (ANSI mode would
    # throw on out-of-bounds [] access); DuckDB's 1-based list index is
    # already null-safe.
    return out.select(
        "id",
        "time",
        F.unix_micros("time_dt").alias("time_dt_us"),
        F.col("meta.name").alias("meta_name"),
        F.unix_micros(F.col("meta.my_dt")).alias("my_dt_us"),
        F.size("items").alias("n_items"),
        F.unix_micros(F.get(F.col("items"), 0)["created_time_dt"]).alias("item1_dt_us"),
        F.unix_micros(F.get(F.col("items"), 1)["created_time_dt"]).alias("item2_dt_us"),
        F.unix_micros(F.get(F.col("items"), 2)["created_time_dt"]).alias("item3_dt_us"),
        F.unix_micros(F.get(F.col("meta.events"), 0)["at_dt"]).alias("event1_dt_us"),
    )


XML_FIXTURE_PATH = os.path.join(GATE_DIR, "xml_gate.xml")
XML_OUTPUT_PATH = os.path.join(GATE_DIR, "out_x39")


def ensure_xml_fixture(path: str = XML_FIXTURE_PATH) -> str:
    """Deterministic XML fixture (atomic rename): one <row> element per
    record, same generating formula the oracle recomputes in SQL. Names
    carry XML-special characters so the scan's unescaping is actually
    value-checked, and rows are written in the stride-7 permutation so the
    convert sort has work to do."""
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    from xml.sax.saxutils import escape

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("<rows>\n")
        for j in range(_N_ROWS):
            i = (j * 7) % _N_ROWS
            t = _BASE_EPOCH + i
            name = escape(f"prod{i % 5}&<>")
            f.write(
                f"  <row><id>{i}</id><time>{t * 1000}</time>"
                f"<name>{name}</name><when_dt>{_iso(t)}</when_dt></row>\n"
            )
        f.write("</rows>\n")
    os.replace(tmp, path)
    return path


def x39_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (Spark 4 built-in source) through the full convert
    pipeline: infer per-rowTag records, ``_dt`` rewrite casts ``when_dt``,
    cluster-sort on ``time``, tuned Parquet sink — then read the written
    output back. The oracle recomputes the fixture's generating formula,
    so the XML parse, entity unescaping, and timestamp rewrite are all
    value-checked end-to-end."""
    from ..operators.convert import convert
    from ..sources.xml import read_xml

    src = ensure_xml_fixture()
    df = read_xml(spark, src, row_tag="row")
    convert(spark, df, XML_OUTPUT_PATH, sort_column="time", mode="cluster")
    out = spark.read.parquet(XML_OUTPUT_PATH)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("time").cast("long").alias("time"),
        "name",
        F.unix_micros("when_dt").alias("when_dt_us"),
    )


register(
    QuerySpec(
        "x39_xml_source",
        x39_xml_source,
        f"""
        SELECT CAST(i AS BIGINT) AS id,
               CAST(({_BASE_EPOCH} + i) * 1000 AS BIGINT) AS time,
               'prod' || CAST(i % 5 AS VARCHAR) || '&<>' AS name,
               CAST(({_BASE_EPOCH} + i) * 1000000 AS BIGINT) AS when_dt_us
        FROM range({_N_ROWS}) t(i)
        """,
        "XML source (rowTag scan, entity unescape) through convert vs formula oracle",
    )
)


register(
    QuerySpec(
        "q00_convert_dt",
        q00_convert_dt,
        f"""
        SELECT id, time,
               epoch_us(strptime(time_dt, '%Y-%m-%dT%H:%M:%SZ')) AS time_dt_us,
               meta.name AS meta_name,
               epoch_us(strptime(meta.my_dt, '%Y-%m-%dT%H:%M:%SZ')) AS my_dt_us,
               CAST(len(items) AS INTEGER) AS n_items,
               epoch_us(strptime(items[1].created_time_dt,
                                 '%Y-%m-%dT%H:%M:%SZ')) AS item1_dt_us,
               epoch_us(strptime(items[2].created_time_dt,
                                 '%Y-%m-%dT%H:%M:%SZ')) AS item2_dt_us,
               epoch_us(strptime(items[3].created_time_dt,
                                 '%Y-%m-%dT%H:%M:%SZ')) AS item3_dt_us,
               epoch_us(strptime(meta.events[1].at_dt,
                                 '%Y-%m-%dT%H:%M:%SZ')) AS event1_dt_us
        FROM read_json('{FIXTURE_PATH}', format='newline_delimited',
                       columns={{'id': 'BIGINT', 'time': 'BIGINT',
                                 'time_dt': 'VARCHAR',
                                 'meta': 'STRUCT(name VARCHAR, my_dt VARCHAR,
                                          events STRUCT(kind VARCHAR, at_dt VARCHAR)[])',
                                 'items': 'STRUCT(uid VARCHAR, created_time_dt VARCHAR)[]'}})
        """,
        "flagship convert pipeline (scan→infer→_dt rewrite→sort→parquet) vs read_json oracle",
    )
)
