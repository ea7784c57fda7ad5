from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this file lives in, whatever its path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_integration_celery_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8",
                                       "spark.ui.enabled": "false"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def spark_merges(monkeypatch):
    """Every merge takes the Spark plan (a driver-merge cap of 0): for tests
    that count a merge's Spark jobs or check its plan."""
    from data_integration_celery_spark.operators import upsert
    monkeypatch.setattr(upsert, "_DRIVER_MERGE_MAX_ROWS", 0)
