"""Driver-canonicalization schema hygiene, checked registry-wide.

The driver gate canonicalizes every query's output with pandas
(sort_values over all columns + value hash). Array/map/struct columns
crash that sort (`unhashable type: 'list'` — the r01 q37/x26 failures),
and raw timestamp/date columns hit pandas-dtype mismatches between the
two engines' result paths (helpers.py rule 4). This test pins the rule
for every registered query so a new operator can't silently reintroduce
the hazard: serialize collections to sorted CSV strings and timestamps
to strings/epoch integers *inside* the operator.

Schema inspection is lazy (no job runs), so this covers all queries in
seconds.
"""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from json_to_parquet_spark.queries import registry

# driver-window profile (pytest.ini): 398 per-query schema compares — release gate runs it via -m ""
pytestmark = pytest.mark.slow


_HAZARD = (T.ArrayType, T.MapType, T.StructType, T.TimestampType, T.TimestampNTZType, T.DateType)


@pytest.mark.parametrize("name", sorted(registry()))
def test_output_schema_is_driver_sortable(spark, sf_dir, name):
    df = registry()[name].spark(spark, sf_dir)
    bad = [f"{f.name}: {f.dataType.simpleString()}" for f in df.schema.fields
           if isinstance(f.dataType, _HAZARD)]
    assert not bad, (
        f"{name} emits driver-canon-hazard columns {bad}; serialize to "
        "scalar strings/longs inside the operator (see helpers.py rule 4)"
    )
