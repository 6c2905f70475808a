"""``queries.helpers``' driver-side arithmetic against Spark's own."""

from __future__ import annotations

import random
import struct

from pyspark.sql import functions as F

from json_to_parquet_spark.queries.helpers import rnd6

# exact 7th-decimal ties in their shortest repr: HALF_UP rounds them up;
# then negatives that round to zero, which Spark returns as 0.0, not -0.0
_LITERALS = [
    5e-07, 2.5e-06, 1.0000005, 0.1234565, 3.9999995,
    -1e-08, -4e-07, -0.0, -4.9e-07,
]


def _bits(x: float) -> str:
    return struct.pack(">d", x).hex()


def test_rnd6_matches_spark_round(spark):
    """``rnd6`` is ``F.round(x, 6)`` bit for bit, on ties and negatives
    that round to zero (literals, which Spark folds through interpreted
    ``Round``) and on seeded doubles in [0, 4] (a column, through
    generated code).  The JVM's ``Double.toString`` is not always the
    shortest repr; a value where that changes the rounding fails here."""
    lits = spark.range(1).select(
        *[F.round(F.lit(x), 6).alias(f"t{i}") for i, x in enumerate(_LITERALS)]
    ).first()
    assert [_bits(v) for v in lits] == [_bits(rnd6(x)) for x in _LITERALS]

    rng = random.Random(6)
    xs = _LITERALS + [rng.uniform(0.0, 4.0) for _ in range(4000)]
    got = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    rounded = {
        r.i: r.r for r in got.select("i", F.round("x", 6).alias("r")).collect()
    }
    assert [_bits(rounded[i]) for i in range(len(xs))] == [_bits(rnd6(x)) for x in xs]
