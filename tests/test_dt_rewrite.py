"""Tests for the ``_dt`` rewriter (SURVEY §5: property tests — rewrite is
idempotent, non-_dt fields untouched, all six fixture sites converted)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json_to_parquet_spark.functions.dt_rewrite import (
    dt_rewrite_columns,
    dt_rewrite_paths,
    rewrite_dt_fields,
)

UTC = datetime.timezone.utc


def _ts_sites(dtype, name="", path=""):
    """All dotted paths with TimestampType in a schema."""
    out = []
    if isinstance(dtype, T.TimestampType):
        out.append(path)
    elif isinstance(dtype, T.StructType):
        for f in dtype.fields:
            out += _ts_sites(f.dataType, f.name, f"{path}.{f.name}" if path else f.name)
    elif isinstance(dtype, T.ArrayType):
        out += _ts_sites(dtype.elementType, name, f"{path}[]")
    return out


def test_flat_rewrite(spark):
    df = spark.createDataFrame(
        [("2025-06-01T10:20:30Z", "keep", 5)], "a_dt string, b string, n long"
    )
    out = rewrite_dt_fields(df)
    assert [f.dataType for f in out.schema.fields] == [
        T.TimestampType(),
        T.StringType(),
        T.LongType(),
    ]
    row = out.collect()[0]
    assert row.a_dt == datetime.datetime(2025, 6, 1, 10, 20, 30)
    assert row.b == "keep" and row.n == 5


def test_nested_sites_and_null_preservation(spark):
    schema = T.StructType(
        [
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("x_dt", T.StringType()),
                        T.StructField("y", T.StringType()),
                    ]
                ),
            ),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("c_dt", T.StringType()),
                            T.StructField("k", T.LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    df = spark.createDataFrame(
        [
            Row(meta=Row(x_dt="2025-01-01T00:00:00Z", y="s"), items=[Row(c_dt=None, k=1)]),
            Row(meta=None, items=None),  # null struct / null array must stay null
        ],
        schema,
    )
    out = rewrite_dt_fields(df)
    assert sorted(dt_rewrite_paths(df.schema)) == ["items[].c_dt", "meta.x_dt"]
    assert sorted(_ts_sites(out.schema)) == ["items[].c_dt", "meta.x_dt"]
    rows = out.collect()
    assert rows[0].meta.x_dt == datetime.datetime(2025, 1, 1) and rows[0].meta.y == "s"
    assert rows[0].items[0].c_dt is None and rows[0].items[0].k == 1
    assert rows[1].meta is None and rows[1].items is None


def test_idempotent(spark):
    df = spark.createDataFrame([("2025-06-01T10:20:30Z",)], "a_dt string")
    once = rewrite_dt_fields(df)
    twice = rewrite_dt_fields(once)
    # After the first pass a_dt is a timestamp, no string *_dt sites remain.
    assert dt_rewrite_paths(once.schema) == []
    assert twice.schema == once.schema
    assert twice.collect() == once.collect()


def test_non_dt_untouched_no_project_needed(spark):
    df = spark.createDataFrame([("x", 1)], "a string, b long")
    out = rewrite_dt_fields(df)
    assert out is df  # no _dt sites → identical DataFrame object, zero plan cost


def test_coerce_vs_strict(spark):
    df = spark.createDataFrame([("not a date",)], "a_dt string")
    coerced = rewrite_dt_fields(df, mode="coerce").collect()
    assert coerced[0].a_dt is None
    with pytest.raises(Exception, match="unparseable"):
        rewrite_dt_fields(df, mode="strict").collect()


def test_array_of_dt_strings_passes_through(spark):
    """Reference parity: the list path (pyarrow/main.py:258-279) recurses
    only into list<struct>; a top-level array<string> named '*_dt' is NOT
    converted — element strings stay strings even in strict mode."""
    df = spark.createDataFrame(
        [Row(seen_dt=["2025-01-01T00:00:00Z", "not a date at all"])],
        "seen_dt array<string>",
    )
    out = rewrite_dt_fields(df, mode="strict")
    assert out is df  # no rewrite site → identity
    assert out.schema["seen_dt"].dataType == T.ArrayType(T.StringType())


def test_columns_stay_in_schema_order(spark):
    df = spark.createDataFrame([("2025-01-01T00:00:00Z", "v", 1)], "z_dt string, a string, m long")
    out = rewrite_dt_fields(df)
    assert out.columns == df.columns


def test_no_python_udf_in_plan(spark):
    """The rewrite must stay JVM-side: no BatchEvalPython/ArrowEvalPython."""
    df = spark.createDataFrame(
        [Row(meta=Row(x_dt="2025-01-01T00:00:00Z"), n=1)],
        "meta struct<x_dt string>, n long",
    )
    plan = rewrite_dt_fields(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def _dotted(spark, schema, row):
    return rewrite_dt_fields(spark.createDataFrame([row], schema))


def test_dotted_top_level_passthrough(spark):
    """A dotted name is one field, not a path: passed through untouched
    beside a rewritten column."""
    out = _dotted(
        spark, "`k8s.pod` string, a_dt string", ("pod-1", "2025-01-01T00:00:00Z")
    )
    assert out.columns == ["k8s.pod", "a_dt"]
    assert out.collect()[0]["k8s.pod"] == "pod-1"


def test_dotted_top_level_dt(spark):
    out = _dotted(spark, "`a.b_dt` string, n long", ("2025-01-01T00:00:00Z", 1))
    assert out.schema["a.b_dt"].dataType == T.TimestampType()
    assert out.collect()[0]["a.b_dt"] == datetime.datetime(2025, 1, 1)


def test_dotted_nested_dt(spark):
    schema = "s struct<`x.y_dt`: string, `p.q`: long>"
    out = _dotted(spark, schema, (Row("2025-01-01T00:00:00Z", 7),))
    assert dt_rewrite_paths(spark.createDataFrame([], schema).schema) == ["s.x.y_dt"]
    inner = out.schema["s"].dataType
    assert [f.name for f in inner.fields] == ["x.y_dt", "p.q"]
    assert inner["x.y_dt"].dataType == T.TimestampType()
    s = out.collect()[0].s
    assert s["x.y_dt"] == datetime.datetime(2025, 1, 1) and s["p.q"] == 7


def test_backtick_in_name(spark):
    schema = T.StructType(
        [
            T.StructField("we`ird_dt", T.StringType()),
            T.StructField(
                "s", T.StructType([T.StructField("o`dd_dt", T.StringType())])
            ),
            T.StructField("plain`", T.LongType()),
        ]
    )
    out = _dotted(spark, schema, ("2025-01-01T00:00:00Z", Row("2025-01-02T00:00:00Z"), 3))
    assert out.columns == ["we`ird_dt", "s", "plain`"]
    row = out.collect()[0]
    assert row["we`ird_dt"] == datetime.datetime(2025, 1, 1)
    assert row["s"]["o`dd_dt"] == datetime.datetime(2025, 1, 2)
    assert row["plain`"] == 3


def _type_nodes(dtype) -> int:
    if isinstance(dtype, T.StructType):
        return 1 + sum(_type_nodes(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return 1 + _type_nodes(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return 1 + _type_nodes(dtype.keyType) + _type_nodes(dtype.valueType)
    return 1


def test_build_is_linear_in_depth(spark, monkeypatch):
    """Each Column is built once: on a 6-deep array-of-struct chain with a
    ``_dt`` leaf ``_rewrite_expr`` runs at most once per type node (a probe
    tree per array level would double the count at every level)."""
    from json_to_parquet_spark.functions import dt_rewrite

    dtype: T.DataType = T.StructType(
        [T.StructField("at_dt", T.StringType()), T.StructField("k", T.LongType())]
    )
    for level in range(6):
        dtype = T.ArrayType(T.StructType([T.StructField(f"l{level}", dtype)]))
    schema = T.StructType([T.StructField("root", dtype)])

    calls = []
    real = dt_rewrite._rewrite_expr

    def counting(*args):
        calls.append(1)
        return real(*args)

    monkeypatch.setattr(dt_rewrite, "_rewrite_expr", counting)
    cols, paths = dt_rewrite_columns(schema)
    assert paths == ["root[]" + "".join(f".l{i}[]" for i in range(5, 0, -1)) + ".l0.at_dt"]
    assert len(cols) == 1
    assert 0 < len(calls) <= _type_nodes(dtype), len(calls)
