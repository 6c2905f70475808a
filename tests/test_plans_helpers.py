"""Tests for plan inspection, schema introspection, and the SortingColumn
footer post-pass."""

from __future__ import annotations

from pyspark.sql import functions as F

from json_to_parquet_spark.operators.convert import convert
from json_to_parquet_spark.operators.sorting_metadata import read_sorting_metadata
from json_to_parquet_spark.plans import (
    has_python_eval,
    pushed_filters,
    schema_to_dict,
    shuffle_count,
)
from json_to_parquet_spark.sources.catalog import load_table


def test_shuffle_count_and_pushed_filters(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    narrow = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    assert shuffle_count(narrow) == 0
    assert any("l_quantity" in f for f in pushed_filters(narrow))
    agg = li.groupBy("l_returnflag").count()
    assert shuffle_count(agg) == 1
    assert not has_python_eval(agg)


def test_schema_to_dict_nested(spark):
    df = spark.createDataFrame(
        [],
        "a long, b struct<x: string, y: array<struct<z: double>>>, c array<string>",
    )
    assert schema_to_dict(df.schema) == {
        "a": "bigint",
        "b": {"x": "string", "y": [{"z": "double"}]},
        "c": ["string"],
    }


def test_sorting_metadata_postpass(spark, tmp_path):
    df = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "time long, v string"
    )
    res = convert(
        spark, df, str(tmp_path / "o"), mode="global", sorting_metadata=True
    )
    assert res.sorted_by == "time"
    meta = read_sorting_metadata(str(tmp_path / "o"))
    assert len(meta) == 1
    (cols,) = meta.values()
    assert cols == [(0, False)]  # column 0 = time, ascending
    # data survived the rewrite, still sorted
    rows = spark.read.parquet(str(tmp_path / "o")).collect()
    assert [r.time for r in rows] == [1, 2, 3]


def test_runtime_bloom_filter_injection(spark, tmp_path):
    """session.py enables runtime bloom-filter pruning; its 10 GiB
    application-side threshold only fires at real scale, so force the
    thresholds down and assert the injected might_contain lands as a
    filter at the fact-side scan of a shuffle join."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.range(100_000).selectExpr("id AS k", "id % 100 AS v").write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "fact"))
        spark.range(5_000).selectExpr("id * 7 AS k", "id AS dv").write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "dim"))
        fact = spark.read.parquet(str(tmp_path / "fact"))
        dim = spark.read.parquet(str(tmp_path / "dim")).filter("dv % 50 = 3")
        plan = fact.join(dim, "k")._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
