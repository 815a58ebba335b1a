from __future__ import annotations

import os

import pytest

from notion_spark.session import cache_scope, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="notion-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(autouse=True)
def _storage_released(request):
    """Run each test that uses ``spark`` inside `cache_scope`, and fail
    it if a persistent RDD or a cache entry made during the test
    outlives the scope. Storage that a wider-scoped fixture made before
    the test started belongs to that fixture."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    cache = spark._jsparkSession.sharedState().cacheManager()
    rdds_before, entries_before = set(rdds().keys()), cache.numCachedEntries()
    with cache_scope(spark):
        yield
    leaked = set(rdds().keys()) - rdds_before
    assert not leaked, f"persistent RDDs left behind: {sorted(leaked)}"
    entries = cache.numCachedEntries()
    assert entries == entries_before, (
        f"CacheManager entries left behind: {entries} after, {entries_before} before"
    )
