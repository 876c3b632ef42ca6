"""The confs `session.get_spark` and `apply_runtime_confs` set."""

from __future__ import annotations

from uw_mapreduce_spark.session import RUNTIME_CONFS


def test_runtime_confs_are_settable_on_a_live_session(spark):
    """`apply_runtime_confs` swallows a failing set, so a static conf in
    `RUNTIME_CONFS` would fail silently on every table load; setting
    each key directly shows none is static."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
        assert spark.conf.get(k) == v, k


def test_get_spark_turns_off_dataframe_debugging(spark, monkeypatch):
    """PySpark's call-site capture on every Column call is off in the
    engine's session.  `is_debugging_enabled` caches its answer for the
    process; the cache is cleared so the call reads this session."""
    import pyspark.errors.utils as errors_utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    assert errors_utils.is_debugging_enabled() is False


def test_page_size_rule_covers_the_heap():
    """The smallest power of two ≥ 1 MiB and ≥ heap / 8192: 8192 pages
    (a task's page table) always cover the heap."""
    from uw_mapreduce_spark.session import _PAGE_TABLE_SIZE, _memory_bytes, _page_size_bytes

    for heap, mib in [("4g", 1), ("16g", 2), ("64g", 8), ("512m", 1)]:
        page = _page_size_bytes(heap)
        assert page == mib << 20, heap
        assert _PAGE_TABLE_SIZE * page >= _memory_bytes(heap), heap


def test_get_spark_sizes_pages_to_the_heap(spark):
    """The local session's memory manager uses the page the rule gives
    for its driver heap, not Spark's heap / cores / 16 default."""
    from uw_mapreduce_spark.session import _page_size_bytes

    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    page = spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()
    assert page == _page_size_bytes(heap), (heap, page)
