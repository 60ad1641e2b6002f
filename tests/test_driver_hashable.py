"""Every ORACLED query must emit a driver-hashable result schema.

The driver's canonicalizer pandas-sorts raw result columns before
hashing; array/map/struct cells crash it (``TypeError: unhashable
type: 'numpy.ndarray'`` — the r5 q_agg_collect_sorted ERR), and
DecimalType columns hash differently from DOUBLE on trailing zeros
(the r7 q_sql_group_by_all driver-red: Spark-4 ANSI promotes
``BIGINT / 1000.0`` to DECIMAL(28,6) while DuckDB returns DOUBLE).
This test walks the schema of every registered query and fails on any
DecimalType column, plus — for ORACLED queries only (the driver only
row-counts the rest) — any complex-typed column.

One test per query, both checks on one constructed DataFrame (r12):
the old two-test split built every oracled query's plan TWICE, and
"schema construction is lazy" is false for eager-build pipelines
(bounded collects, eager localCheckpoints, ann_ivf's k-means fit) —
the driver's pytest window pays ~2x the registry's total build time
for zero extra coverage.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from sparkit_learn_spark.registry import all_oracles, all_queries
from sparkit_learn_spark.session import release_query_state

ORACLED = frozenset(all_oracles())
ALL_REGISTERED = sorted(all_queries())

COMPLEX = (T.ArrayType, T.MapType, T.StructType)


@pytest.fixture(autouse=True)
def _release(spark):
    # every test builds its own query; nothing is shared across tests
    # except the session, so releasing per test is safe
    # (session.release_query_state note)
    yield
    release_query_state(spark)


@pytest.mark.parametrize("name", ALL_REGISTERED)
def test_driver_hashable_schema(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    fields = df.schema.fields
    bad_dec = [f"{f.name}:{f.dataType.simpleString()}"
               for f in fields if isinstance(f.dataType, T.DecimalType)]
    assert not bad_dec, (
        f"{name} returns DECIMAL column(s) {bad_dec} — data-dependent "
        "driver hash hazard (ANSI int/decimal-literal promotion); "
        "CAST(... AS DOUBLE) in both the Spark SQL and the oracle"
    )
    if name in ORACLED:
        bad = [f"{f.name}:{f.dataType.simpleString()}"
               for f in fields if isinstance(f.dataType, COMPLEX)]
        assert not bad, (
            f"{name} returns non-driver-hashable column(s) {bad}; "
            "serialize (array_join / to_json) before returning"
        )
