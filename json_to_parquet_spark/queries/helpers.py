"""Cross-engine determinism helpers.

The driver compares Spark output against DuckDB by order-insensitive value
hash, so every computed value must be BIT-IDENTICAL across two engines
that parallelize differently. The rules used by every query in this
package:

1. **Float aggregation order is not deterministic** (partial aggregates /
   morsel parallelism sum in different orders), so no raw SUM/AVG over
   doubles. Instead: cast each addend to a decimal (exact, deterministic
   per-row), sum decimals (exact, order-independent), cast the total back
   to double. ``dec_sum``/``dec_avg`` here; the matching SQL is
   ``CAST(SUM(CAST(x AS DECIMAL(30,10))) AS DOUBLE)``.
2. **Row-level double arithmetic IS deterministic** (IEEE 754 +,-,*,/ and
   sqrt are exactly rounded everywhere) — project freely.
3. **Derived doubles that must then be aggregated** (e.g. cosine scores)
   are first ``ROUND(x, 6)`` (engine float-sum jitter is ~1e-14, six
   decimals is far coarser) and the rounded value — exact in decimal —
   is what gets aggregated/ordered.
4. **No raw timestamp/date columns in output** — pandas dtype mapping
   differs between the engines' result paths. Dates/timestamps become
   strings (``date_str``) or epoch microseconds (``ts_us``).
5. **Computed integers are cast to long** — DuckDB scalar int functions
   return BIGINT, Spark often INT.
6. **Top-k is always ordered by a unique tie-breaker suffix** so the
   selected set is well-defined in both engines.
7. **DuckDB ``SUM`` over BIGINT returns HUGEINT** (int128), which pandas
   renders as float64/object and breaks the driver's dtype compare even
   when values match — wrap every integer-sum output in
   ``CAST(... AS BIGINT)``. The parity mirror asserts pandas dtype
   equality to catch this class.
8. **DuckDB's double→int CAST rounds; Spark's truncates** — never cast a
   ratio straight to an integer type. Take ``floor()``/``ceil()``
   explicitly on BOTH sides first (bit x106, x185). Numeric literals
   like ``1.0`` also parse as DECIMAL in DuckDB but DOUBLE in Spark —
   ``CAST(1.0 AS DOUBLE)`` in oracle output columns (x165).
9. **Unrolled-iteration oracles must MATERIALIZE every chained CTE that
   is referenced more than once** — DuckDB inlines CTEs by default, so a
   per-round frame referenced twice doubles the subplan per round
   (2^16 scans at 16 rounds, observed as fd exhaustion in x101). Also
   avoid reserved words (``both``, ...) as CTE names.
10. **Materialize array expressions into a COLUMN before element_at-
   indexing them inside transform lambdas.** An inline
   ``filter(split(lower(text)))`` is re-evaluated on every element
   access in the lambda — O(n²) per row; measured 7.7 s vs 0.4 s for
   one pair-explosion at sf0.1 (x179). ``df.select(expr.alias("t"))``
   first, then index ``F.col("t")``.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,10)"
# SQL fragment factory mirroring dec_sum / dec_avg for the DuckDB side.
# NOTE the VARCHAR round-trip: DuckDB's decimal→double cast is not
# correctly rounded (it can be 1 ulp off Spark's BigDecimal.doubleValue),
# but its string→double parse IS — so decimal → varchar → double lands on
# the identical nearest double in both engines.
SQL_DEC_SUM = "CAST(CAST(SUM(CAST({x} AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE)"
SQL_DEC_AVG = (
    "(CAST(CAST(SUM(CAST({x} AS DECIMAL(30,10))) AS VARCHAR) AS DOUBLE) / COUNT({x}))"
)


def dec_sum(col: Column | str, alias: str) -> Column:
    """Order-independent, cross-engine-exact SUM over a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def dec_avg(col: Column | str, alias: str) -> Column:
    """AVG as exact-decimal sum divided by count (deterministic division)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


def date_str(col: Column | str, alias: str) -> Column:
    """Render a date/timestamp as yyyy-MM-dd (SQL: strftime(x, '%Y-%m-%d'))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyy-MM-dd").alias(alias)


def ts_us(col: Column | str, alias: str) -> Column:
    """Timestamp as epoch microseconds (SQL: epoch_us(x))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c).alias(alias)


_Q6 = Decimal("0.000001")


def rnd6(x: float) -> float:
    """Spark's ``F.round(x, 6)`` on the driver, for loops that finish
    there (x103, x208).  Spark computes
    ``BigDecimal.valueOf(x).setScale(6, HALF_UP)``; ``valueOf`` parses
    ``Double.toString(x)``, taken here as the shortest round-trip
    string, ``repr(x)``.  NaN and infinities pass through unchanged, as
    in Spark.  ``+ 0.0`` turns a negative zero into ``0.0``, as
    BigDecimal has no negative zero."""
    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP)) + 0.0


_INLINE_SQL_TYPES = {
    "int": "INT",
    "integer": "INT",
    "bigint": "BIGINT",
    "long": "BIGINT",
    "double": "DOUBLE",
    "string": "STRING",
    "boolean": "BOOLEAN",
}


def _inline_lit(v, sql_type: str) -> str:
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type == "DOUBLE":
        f = float(v)
        if f != f:
            return "CAST('NaN' AS DOUBLE)"
        if f == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if f == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        # repr is the shortest round-trip decimal; Java's correctly-
        # rounded parse restores the identical binary64 (helpers rule:
        # the SQL_DEC_SUM varchar round-trip, applied to literals)
        return f"CAST('{f!r}' AS DOUBLE)"
    if sql_type == "STRING":
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"
    if sql_type == "BOOLEAN":
        return "true" if v else "false"
    if int(v) != v:
        raise ValueError(f"inline_rows: {v!r} is not integral for a {sql_type} column")
    return f"{int(v)}{'L' if sql_type == 'BIGINT' else ''}"


def inline_rows(spark, rows, schema: str):
    """Small local rows -> DataFrame via an inline VALUES table
    (LocalTableScan) instead of ``createDataFrame``'s parallelize.

    ``createDataFrame`` ships even a 5-row spine through a 32-partition
    ParallelCollectionRDD + PythonRDD: every plan execution that embeds
    it pays ~0.4 s of Python-worker round-trips, and a broadcast built
    over it costs ~5 task-seconds (measured r15; guide §4.1 — the
    Python boundary).  The VALUES table is pure Catalyst: no RDD, no
    Python workers, broadcast builds are instant.  Values are
    bit-exact (doubles travel as repr strings — the shortest
    round-trip decimal — which the JVM's correctly-rounded parse
    restores; the helpers-docstring VARCHAR-round-trip rule applied to
    literals).

    ``schema`` is flat DDL like ``"a long, b double, c string"`` —
    scalar types only (int/long/double/string/boolean), which is every
    spine and driver-side rollup the registry builds.  Falls back to
    ``createDataFrame`` for empty input (VALUES needs at least one
    row).

    Misuse raises instead of producing wrong data: a row whose length
    differs from the schema's, a non-integral value for an int/long
    column, or string columns while ``spark.sql.parser.
    escapedStringLiterals`` is on (the literals below are escaped for
    the default parser)."""
    fields = []
    for part in schema.split(","):
        name, typ = part.split()
        fields.append((name, _INLINE_SQL_TYPES[typ.lower()]))
    if not rows:
        return spark.createDataFrame([], schema)
    for r in rows:
        if len(r) != len(fields):
            raise ValueError(
                f"inline_rows: row {r!r} has {len(r)} values for {len(fields)} schema fields"
            )
    if any(t == "STRING" for _n, t in fields) and (
        spark.conf.get("spark.sql.parser.escapedStringLiterals", "false").lower() != "false"
    ):
        raise RuntimeError(
            "inline_rows needs spark.sql.parser.escapedStringLiterals=false"
        )
    vals = ",".join(
        "("
        + ",".join(_inline_lit(v, t) for v, (_n, t) in zip(r, fields))
        + ",true)"
        for r in rows
    )
    # createDataFrame marks every field nullable; VALUES infers
    # non-null for columns without a NULL literal.  One all-NULL row
    # (filtered back out by the __keep marker) makes every column
    # nullable, so the swap is schema-invisible to the driver and to
    # downstream unions.
    nullrow = (
        "(" + ",".join(f"CAST(NULL AS {t})" for _n, t in fields)
        + ",false)"
    )
    names = ", ".join(n for n, _t in fields)
    sel = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in fields)
    return spark.sql(
        f"SELECT {sel} FROM VALUES {vals},{nullrow}"
        f" AS t({names}, __keep) WHERE __keep"
    )
