from __future__ import annotations

import datetime as dt

import pytest

from graph_database_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
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
