"""Scoped cache lifecycle (`caching.persist_scoped`)."""

from __future__ import annotations

from pyspark.storagelevel import StorageLevel

from uw_mapreduce_spark.caching import persist_scoped, release_scope


def test_released_handle_cannot_evict_a_newer_cache_of_its_plan(spark):
    """A frame its operator unpersisted leaves the scope at the next
    registration: evicting it later would uncache a newer entry of the
    same plan, which the operator registering it is about to read."""
    scope = "test.caching.released"
    release_scope(scope)
    try:
        a = persist_scoped(spark.range(10).selectExpr("id * 3 AS x"), scope, keep=2)
        a.unpersist()
        b = persist_scoped(spark.range(10).selectExpr("id * 5 AS x"), scope, keep=2)
        b.unpersist()
        c = persist_scoped(spark.range(10).selectExpr("id * 3 AS x"), scope, keep=2)
        assert c.storageLevel != StorageLevel.NONE
    finally:
        release_scope(scope)
