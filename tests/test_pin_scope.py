"""``pin_scope`` releases what ``_pin`` persisted: after the scope the
cache manager holds no entry of its own, so a second identical call
plans and runs exactly like the first."""

from __future__ import annotations

from rmlint_spark.config import EngineConfig, SignatureConfig
from rmlint_spark.operators.exact import _pin, exact_clusters, pin_scope


def _cache_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def test_pin_scope_leaves_no_cache_entries(spark, corpus):
    files, truth = corpus
    cfg = EngineConfig(sig=SignatureConfig(prefix_len=64))
    sc = spark.sparkContext
    spark.catalog.clearCache()
    try:
        assert _cache_empty(spark)
        runs = []
        for i in range(2):
            group = f"pin_scope_call_{i}"
            sc.setJobGroup(group, group)
            try:
                with pin_scope(spark):
                    rows = sorted(map(tuple, exact_clusters(files, cfg).collect()))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert _cache_empty(spark), f"call {i} left cache-manager entries"
            runs.append((rows, len(sc.statusTracker().getJobIdsForGroup(group))))
        (rows0, jobs0), (rows1, jobs1) = runs
        assert rows0 and rows0 == rows1
        assert jobs0 == jobs1
    finally:
        files.cache()
        truth.cache()
        files.count()


def test_pin_keeps_the_callers_cache(spark):
    from pyspark.storagelevel import StorageLevel

    df = spark.range(10).selectExpr("id", "id * 2 AS twice")
    with pin_scope(spark):
        assert _pin(df).storageLevel.useMemory
    assert df.storageLevel == StorageLevel.NONE
    df.cache()
    try:
        with pin_scope(spark):
            assert _pin(df) is df
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()
