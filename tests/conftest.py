from __future__ import annotations

import contextlib

import pytest

from textcleaning_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("textcleaning-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@contextlib.contextmanager
def no_data_batches_off(spark):
    """Start streaming queries without no-data micro-batches.

    An operator with ``ProcessingTimeTimeout`` state asks for another
    (no-data) batch after every batch, so under ``availableNow`` the
    query never terminates and ``processAllAvailable`` never returns.
    With no-data batches off the query ends once its input is drained;
    timeouts then fire only in data batches, which changes nothing for
    state timeouts longer than the test. Each query reads the conf when
    it starts, so restoring it after ``start()`` is safe."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)
