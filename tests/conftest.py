from __future__ import annotations

import contextlib
import functools
import os
import time
from unittest import mock

import pytest

from pyspark.sql import SparkSession


@contextlib.contextmanager
def driver_tz(tz: str):
    """Temporarily change the DRIVER process's OS timezone (the tz
    PySpark's classic naive-datetime conversions — time.mktime /
    datetime.fromtimestamp — read). Executor Python workers keep their
    own tz, which is exactly the asymmetry the tz-handling fixes must
    survive. Restores the previous tz on exit."""
    prev = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()


def distributed(test):
    """A copy of ``test`` with the local-read budget at 0, so every
    ``scan_encoded`` / ``point_lookup`` it makes runs through Spark's
    distributed ``format("choetl")`` read. Tests as written run at the
    default budget, where small stores read in the driver process; a
    twin ``test_x_distributed = distributed(test_x)`` keeps the other
    executor covered by the same checks."""
    from choetl_spark import datasource

    @functools.wraps(test)
    def run(*args, **kwargs):
        with mock.patch.object(datasource, "LOCAL_READ_BYTES", 0):
            return test(*args, **kwargs)

    return run


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("choetl_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
