from __future__ import annotations

from contextlib import contextmanager

import pytest

from uw_mapreduce_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"
REF = "/root/reference"


@pytest.fixture(scope="session", autouse=True)
def _hermetic_artifact_cache(tmp_path_factory):
    """Point the build-once artifact caches (kNN graph / near-dup /
    Jaccard pair lists) at a per-session temp dir: with the repo-level
    default, a test run would write artifacts keyed only by corpus
    content + params, and a LATER run after a code change to the pair
    builders would cache-HIT the stale artifact and validate leftover
    disk state instead of the new code."""
    import os

    cache = str(tmp_path_factory.mktemp("artifact_cache"))
    old = os.environ.get("SPARK_GRAFT_KNN_CACHE")
    os.environ["SPARK_GRAFT_KNN_CACHE"] = cache
    yield cache
    if old is None:
        os.environ.pop("SPARK_GRAFT_KNN_CACHE", None)
    else:
        os.environ["SPARK_GRAFT_KNN_CACHE"] = old


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="uw-mapreduce-spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture(scope="session")
def reference_dir():
    return REF


@contextmanager
def shuffle_partitions(spark, p):
    """Run the block with ``spark.sql.shuffle.partitions`` at ``p`` — the
    range count every scalable entry point reads — then restore the
    previous value."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
