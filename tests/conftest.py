from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from json_to_parquet_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

# Oracles that reference parquet FILES by literal path (x98) are f-strings
# resolved at first registry import — pin them to the dir this test run
# uses BEFORE any test module imports the registry.
os.environ.setdefault("SPARK_GRAFT_ORACLE_FILE_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return ORACLE_SF_DIR
