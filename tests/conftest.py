from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cbde_mapreduce_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
#: Overridable so the full parity sweep can be run at 10x scale
#: (SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.1 pytest tests/test_parity.py).
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="cbde-mapreduce-spark-tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def registry_pass(spark, sf_smoke):
    """Every registry name built and executed once at sf0.001, with its
    executed plan and normalized execution plans (tests/registry_pass.py)."""
    from tests.registry_pass import run_pass

    return run_pass(spark, sf_smoke)
