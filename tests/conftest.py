from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast session startup in tests
# The suite shares one session for its whole run. Under the package's
# 48g default, G1 grows the heap instead of collecting, and on a 15 GB
# host the kernel OOM-kills the JVM partway through the catalog oracle
# tests. The catalog's heaviest queries run on a default 1g heap
# (tests/test_small_heap.py), so 4g is ample.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from data_integration_project_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium() -> str:
    return SF_MEDIUM
