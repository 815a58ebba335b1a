"""The caller-owned cache lifecycle (`session.fanout` + `session.cache_scope`).

Operators persist the frames they fan out and checkpoint iterative
loops; a scope releases all of it on exit. These tests pin that the
release is complete, survives an exception, respects nesting, and
changes neither results nor the plan of a query built outside a scope.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from notion_spark import parity
from notion_spark.session import cache_scope, fanout


def _storage(spark) -> tuple[set[int], int]:
    """(persistent RDD ids, CacheManager entry count) of the session."""
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    cache = spark._jsparkSession.sharedState().cacheManager()
    return rdds, cache.numCachedEntries()


@pytest.mark.parametrize("query", ["graph_kcore", "behavior_covisitation_lift"])
def test_registry_query_in_scope_matches_and_leaves_nothing(spark, sf_dir, query):
    before = _storage(spark)
    with cache_scope(spark):
        scoped = sorted(parity.QUERIES[query](spark, sf_dir).collect())
        held = _storage(spark)
    # kcore checkpoints its peel rounds, covisitation_lift persists its
    # capped frame: both hold storage until the scope closes
    assert held[0] - before[0]
    assert _storage(spark) == before
    assert scoped == sorted(parity.QUERIES[query](spark, sf_dir).collect())


def test_exception_inside_scope_still_releases(spark, sf_dir):
    before = _storage(spark)
    with pytest.raises(RuntimeError, match="mid-query"):
        with cache_scope(spark):
            parity.QUERIES["behavior_covisitation_lift"](spark, sf_dir).count()
            raise RuntimeError("mid-query")
    assert _storage(spark) == before


def test_nested_scope_releases_only_its_own(spark):
    before = _storage(spark)
    with cache_scope(spark):
        outer = fanout(spark.range(40).withColumn("x", F.col("id") * 2))
        assert outer.count() == 40
        outer_held = _storage(spark)
        with cache_scope(spark):
            inner = fanout(spark.range(30).withColumn("y", F.col("id") * 3))
            ckpt = spark.range(20).localCheckpoint()
            assert inner.count() == 30 and ckpt.count() == 20
        assert _storage(spark) == outer_held
        assert outer.storageLevel.useMemory
        assert not inner.storageLevel.useMemory
        # the contract: a checkpointed result used after its scope fails loudly
        with pytest.raises(Exception, match="(?i)checkpoint"):
            ckpt.count()
    assert _storage(spark) == before


def test_static_plan_outside_scope_keeps_the_persist(spark, sf_dir):
    """Outside any scope `fanout` is a plain persist, so the registry
    plan is the one benchmarks and the driver see. Scopes are per
    thread: a fresh thread has none open."""
    built = {}
    t = threading.Thread(
        target=lambda: built.setdefault(
            "df", parity.QUERIES["behavior_covisitation_lift"](spark, sf_dir)
        )
    )
    t.start()
    t.join()
    df = built["df"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # nothing registered it with the test's scope: release it here
    spark.catalog.clearCache()
    assert "InMemoryRelation" in plan
