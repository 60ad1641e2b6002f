"""Every registered query with a DuckDB oracle must match it —
the local replica of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from sparkit_learn_spark.registry import all_oracles, all_queries
from sparkit_learn_spark.session import release_query_state
from sparkit_learn_spark.testing import check_query, parity_tier

# Fast tier (default, driver-completable): this suite checks the md5
# bucket-0 half at sf0.001; tests/test_oracle_parity_sf01.py checks
# bucket 1 at sf0.01 — union = every oracle, once each.
# SPARK_GRAFT_TEST_FULL=1 = every oracle at every SF (builder gate).
ORACLED = parity_tier(sorted(all_oracles()), slot=0)
ROWS_ONLY = sorted(set(all_queries()) - set(all_oracles()))


@pytest.fixture(autouse=True)
def _release(spark):
    # every test builds + materializes its own query; release so
    # CacheManager entries and cached blocks don't accumulate across
    # the sweep (session.release_query_state note)
    yield
    release_query_state(spark)


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, duck, sf_dir, name):
    check_query(spark, duck, name, sf_dir)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    df = all_queries()[name](spark, sf_dir)
    assert df.count() >= 0
