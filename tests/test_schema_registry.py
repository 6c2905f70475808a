"""Schema registry: StructType JSON round-trip, and the CLI contract —
first run infers and writes the registry file, second run pins to it and
produces identical output (no inference divergence across a feed)."""

from __future__ import annotations

import gzip
import json

from pyspark.sql import types as T

from json_to_parquet_spark.__main__ import main as cli_main
from json_to_parquet_spark.sources.schema_registry import load_schema, save_schema

NESTED = T.StructType(
    [
        T.StructField("time", T.LongType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("tags", T.ArrayType(T.StringType())),
                    T.StructField("kv", T.MapType(T.StringType(), T.LongType())),
                ]
            ),
        ),
    ]
)


def test_round_trip(tmp_path):
    p = str(tmp_path / "schema.json")
    save_schema(NESTED, p)
    assert load_schema(p) == NESTED


def test_cli_pins_schema_across_runs(spark, tmp_path, capsys):
    src = tmp_path / "feed-0.ndjson.gz"
    with gzip.open(src, "wt") as f:
        for i in range(20):
            f.write(json.dumps({"time": i, "when_dt": "2024-01-01T00:00:00Z"}) + "\n")
    reg = str(tmp_path / "feed.schema.json")

    # first object: infers, converts, writes the registry file
    assert cli_main([str(src), str(tmp_path / "out0"), "--schema-file", reg]) == 0
    pinned = load_schema(reg)
    assert [f.name for f in pinned.fields] == ["time", "when_dt"]
    rows0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # the lineage line names the partitioning and the per-phase seconds
    assert rows0["partitioning"] == "bounds"
    assert list(rows0["phases"]) == ["read_s", "rewrite_s", "write_s"]

    # later object of the feed — same logical stream, but alone it would
    # infer a NARROWER schema (missing key). Pinning keeps the feed width.
    src2 = tmp_path / "feed-1.ndjson.gz"
    with gzip.open(src2, "wt") as f:
        for i in range(5):
            f.write(json.dumps({"time": 100 + i}) + "\n")
    assert cli_main([str(src2), str(tmp_path / "out1"), "--schema-file", reg]) == 0
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # pinned run keeps when_dt (as rewritten timestamp) despite src2 lacking it
    assert rows0["schema_after"] == out1["schema_after"]
    assert out1["rows"] == 5


def test_cli_xml_source(spark, tmp_path, capsys):
    src = tmp_path / "data.xml"
    src.write_text(
        "<rows>\n"
        + "".join(
            f"<item><time>{i}</time><when_dt>2024-01-0{1 + i % 9}T00:00:00Z</when_dt>"
            f"<name>r&amp;{i}</name></item>\n"
            for i in range(30)
        )
        + "</rows>\n"
    )
    dest = str(tmp_path / "out_xml")
    assert (
        cli_main(
            [str(src), dest, "--format", "xml", "--xml-row-tag", "item", "--mode", "global"]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 30
    assert out["sorted_by"] == "time"
    df = spark.read.parquet(dest)
    assert dict(df.dtypes)["when_dt"] == "timestamp"
    assert df.filter("name = 'r&7'").count() == 1  # entity unescaped at scan
    times = [r.time for r in df.select("time").collect()]
    assert times == sorted(times)


def test_cli_csv_source(spark, tmp_path, capsys):
    src = tmp_path / "data.csv"
    src.write_text(
        "time,when_dt,name\n"
        + "".join(f"{i},2024-01-0{1 + i % 9}T00:00:00Z,row{i}\n" for i in range(30))
    )
    dest = str(tmp_path / "out_csv")
    assert cli_main([str(src), dest, "--format", "csv", "--mode", "global"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == 30
    assert out["sorted_by"] == "time"
    assert out["partitioning"] == "global"
    # CSV inference may already type ISO strings as timestamps (nothing
    # left to rewrite); either way the output column must be a timestamp
    assert out["rewritten_dt_paths"] in ([], ["when_dt"])
    df = spark.read.parquet(dest)
    assert dict(df.dtypes)["when_dt"] == "timestamp"
    times = [r.time for r in df.select("time").collect()]
    assert times == sorted(times)
