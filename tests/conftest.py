"""Shared session + fixture tables for the test suite."""

from __future__ import annotations

import pytest

from tbbid_scrapy_spark import schemas
from tbbid_scrapy_spark.fixtures.sitegen_spark import SITE_SCHEMA
from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


# The suite's JVM heap cap. At get_spark's 24 GB default, G1 kept
# growing the heap instead of collecting: on a 16 GB host the test JVM
# passed 13 GB RSS mid-suite and the kernel OOM-killed it. Repeated
# fixture crawls in one JVM keep under 3 GB live after a full GC; with
# this cap the whole suite peaks near 6 GB RSS.
TEST_DRIVER_MEM = "6g"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": TEST_DRIVER_MEM})
    yield s


@pytest.fixture(scope="session")
def site():
    return sitegen.build_site(n_listing_pages=3, projects_per_listing=4, seed=42)


# SITE_SCHEMA (DOCUMENTS+fail_first) is imported from fixtures.sitegen_spark
# above — single source of truth for the fixture schema.


@pytest.fixture(scope="session")
def site_df(spark, site):
    return spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)


@pytest.fixture(scope="session")
def politeness_df(spark):
    return spark.createDataFrame(sitegen.default_politeness(), schemas.POLITENESS)


@pytest.fixture(scope="session")
def robots_df(spark):
    return spark.createDataFrame(sitegen.default_robots(), schemas.ROBOTS)
