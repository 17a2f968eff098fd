from __future__ import annotations

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from map_reduce_framework_spark.session import get_spark

    spark = get_spark("mrfs-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(autouse=True)
def _shuffle_partitions_stay_at_conftest():
    """Every test must leave the shared session at conftest's 8 shuffle
    partitions: a test that calls ``get_spark`` with other settings gets
    the live session back from ``getOrCreate`` with its SQL confs
    applied, so every module collected after it would run at a
    different partition count. Puts 8 back before failing, so only the
    test that changed it fails. Never starts a session itself."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    key = "spark.sql.shuffle.partitions"
    got = None if active is None else active.conf.get(key)
    if got not in (None, "8"):
        active.conf.set(key, "8")
        pytest.fail(f"test left {key}={got}, not conftest's 8")
