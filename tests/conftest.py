from __future__ import annotations

import os

import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_CORRECT = f"{TESTDATA}/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from neo4j_export_tool_spark.session import get_spark

    cpus = min(8, os.cpu_count() or 8)
    spark = get_spark(master=f"local[{cpus}]", app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def tmp_out(tmp_path_factory):
    return tmp_path_factory.mktemp("out")
