from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkit_learn_spark.session import get_session  # noqa: E402
from sparkit_learn_spark.testing import duck_connect  # noqa: E402

SF_UNIT = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # r12: core count tunable — on this host per-task overhead is
    # kernel-bound (sys-time dominated), so fewer cores can mean LESS
    # wall time for the fixture-scale suite; default measured below.
    cores = os.environ.get("SPARK_GRAFT_TEST_CORES", "8")
    s = get_session("sparkit-tests", master=f"local[{cores}]",
                    extra_confs={"spark.ui.enabled": "false",
                                 "spark.sql.shuffle.partitions": cores})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_UNIT


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()

