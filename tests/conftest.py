"""Shared fixtures: one session-scoped local SparkSession, fixture dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The suite cycles one session through ~4700 distinct generated classes;
# Spark's 100-entry codegen cache would recompile the same source over
# and over (tests/test_component_store.py: 3240 compiles at 100 entries,
# 561 at 4096). A static conf, so it must reach the JVM at launch.
os.environ["PYSPARK_SUBMIT_ARGS"] = (
    "--conf spark.sql.codegen.cache.maxEntries=4096 "
    + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
)

from chchfr_data_collection_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # small shuffle fan-out for tiny test frames; AQE coalesces anyway
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med() -> str:
    return SF_MED
