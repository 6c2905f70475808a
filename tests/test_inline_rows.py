"""``helpers.inline_rows`` refuses input it would otherwise turn into
wrong data: rows of the wrong length, non-integral values for int/long
columns, and string literals under the legacy escaped-literal parser."""

from __future__ import annotations

import pytest

from json_to_parquet_spark.queries.helpers import inline_rows

SCHEMA = "a long, s string"


def test_rejects_row_length_mismatch(spark):
    with pytest.raises(ValueError, match="3 values for 2 schema fields"):
        inline_rows(spark, [(1, "x"), (2, "y", "extra")], SCHEMA)
    with pytest.raises(ValueError, match="1 values for 2 schema fields"):
        inline_rows(spark, [(1,)], SCHEMA)


def test_rejects_non_integral_int_values(spark):
    with pytest.raises(ValueError, match="not integral"):
        inline_rows(spark, [(1.5, "x")], SCHEMA)
    with pytest.raises(ValueError, match="not integral"):
        inline_rows(spark, [(1, 2.25)], "a int, b long")
    # integral values of another numeric type are exact, so they pass
    assert inline_rows(spark, [(2.0, "x")], SCHEMA).collect()[0].a == 2


def test_rejects_escaped_string_literals_parser(spark):
    conf = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(conf, "true")
    try:
        with pytest.raises(RuntimeError, match="escapedStringLiterals=false"):
            inline_rows(spark, [(1, "back\\slash")], SCHEMA)
        # no string column, no escaped literal: the conf does not matter
        assert inline_rows(spark, [(1,)], "a long").count() == 1
    finally:
        spark.conf.unset(conf)
