from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crypto_data_pipeline_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def conf_sets(monkeypatch) -> list[tuple]:
    """Every ``spark.conf.set(key, value)`` made while the test runs."""
    from pyspark.sql.conf import RuntimeConfig

    calls: list[tuple] = []
    real = RuntimeConfig.set

    def spy(self, key, value):
        calls.append((key, value))
        return real(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    return calls
