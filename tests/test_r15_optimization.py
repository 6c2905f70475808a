"""Round-15 (optimization round 2) focused guards.

1. The drift family's adoption decision now has ONE definition
   (`similarity._drift_adoption`, VERDICT r14 ask #2): x237's output
   column, x260's routing choice, and x261's ledger branch must all
   report the identical adopted quantizer — extending the r14
   x261-vs-x237 equivalence to the whole family.

x208's running-min guard lives in tests/test_modeling.py.
"""

from __future__ import annotations


def test_drift_family_single_adoption_definition(spark, sf_dir):
    from json_to_parquet_spark.queries import registry
    from json_to_parquet_spark.queries.similarity import _drift_adoption

    reg = registry()
    helper_word = _drift_adoption(spark, sf_dir)[0]
    adopted_237 = (
        reg["x237_drift_retrain"].spark(spark, sf_dir).collect()[0].adopted
    )
    adopted_260 = (
        reg["x260_drift_reindex_execute"]
        .spark(spark, sf_dir)
        .collect()[0]
        .adopted
    )
    adopted_261 = (
        reg["x261_drift_reindex_io"].spark(spark, sf_dir).collect()[0].adopted
    )
    assert adopted_237 == helper_word
    assert adopted_260 == helper_word
    assert adopted_261 == helper_word


def test_inline_rows_bit_identical_to_createDataFrame(spark):
    """inline_rows (the r15 VALUES-table spine/rollup builder) must
    reproduce createDataFrame exactly: schema AND values, including
    round-trip-hostile doubles, quoted strings, and NULLs."""
    import math

    from json_to_parquet_spark.queries.helpers import inline_rows

    rows = [
        (1, -(2**62), 0.1, "plain", True),
        (None, 7, 1.5e300, "it's 'quoted'", False),
        (3, None, -4.9e-324, "back\\slash", None),
        (4, 0, float("inf"), None, True),
        (5, 12, float("-inf"), "", False),
        (6, 13, math.pi, "ends in space ", True),
        (7, 14, None, "unicode é漢", False),
    ]
    schema = "a int, b long, c double, d string, e boolean"
    want = spark.createDataFrame(rows, schema)
    got = inline_rows(spark, rows, schema)
    assert got.schema == want.schema
    import struct

    def key(r):
        return tuple(
            struct.pack(">d", x).hex() if isinstance(x, float) else x
            for x in r
        )

    assert sorted(map(key, got.collect()), key=repr) == sorted(
        map(key, want.collect()), key=repr
    )
    # NaN compares unequal to itself — check it survives separately
    nan = inline_rows(spark, [(1, 1, float("nan"), "x", True)], schema)
    assert math.isnan(nan.collect()[0].c)
    # empty input falls back cleanly
    assert inline_rows(spark, [], schema).count() == 0
    # no-NULL rows must still come out all-nullable (createDataFrame
    # parity — the driver's schema compare and downstream unions)
    dense = inline_rows(spark, [(1, 2, 3.0, "x", True)], schema)
    assert dense.schema == spark.createDataFrame(
        [(1, 2, 3.0, "x", True)], schema
    ).schema
