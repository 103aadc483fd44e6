from __future__ import annotations

import datetime as dt
import os

import pytest

from graph_database_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


def _half_of_physical_ram() -> str:
    """Driver heap for the test session: half the host's RAM, so the JVM
    cannot grow past what the host holds (the session's 48 GB default
    thrashes a 16 GB host)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2 // 2**30)}g"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _half_of_physical_ram())
    s = get_spark("gds-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    """The smallest driver testdata directory."""
    return SF_SMOKE


@pytest.fixture(scope="session")
def toy(spark):
    from graph_database_spark.sources.toy import toy_dataset
    return toy_dataset(spark)


@pytest.fixture(scope="session")
def toy_roles(spark, toy):
    """The toy tables plus C4, a customer with no order and no event, so
    every customer role is present: buyers (C1, C2), event-only (C3) and
    no-history (C4)."""
    c4 = spark.createDataFrame([("C4", "Dana", dt.date(2024, 5, 1))],
                               toy["customers"].schema)
    return {**toy, "customers": toy["customers"].unionByName(c4)}
