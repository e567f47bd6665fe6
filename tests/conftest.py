"""Shared fixtures. One SparkSession for the whole test run (session
startup is ~10 s; reference model: offline deterministic tests,
``pytest -m 'not network'``)."""

from __future__ import annotations

import pytest

from news_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"
