"""Cache hygiene: operators that persist intermediates must not leak
them across a long-lived session (VERDICT r02 'What's wrong #6'), and
eviction is QUERY-scoped, not per-persist (ADVICE r03 #5): two tracked
operators composed in one query both keep their caches until the
query boundary."""

from __future__ import annotations

from tests.conftest import SF_TEST


def _cache_manager_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def test_composed_operators_share_scope(spark):
    from greenexp_r_spark import registry_pipeline as rp
    from greenexp_r_spark.plans import caching
    from greenexp_r_spark.plans.caching import release_caches

    release_caches()
    # each query persists an intermediate its arms read several
    # times: the shingle table, the quantized corpus
    n1 = rp._q_dedup_neardup_union(spark, SF_TEST).count()
    assert not _cache_manager_empty(spark)   # cache live while in use
    n_after_first = len(caching._live)
    n2 = rp._q_ann_topk_union(spark, SF_TEST).count()
    # building the second query must NOT evict the first's cache
    assert len(caching._live) > n_after_first
    assert not _cache_manager_empty(spark)
    # query boundary: everything tracked is dropped
    release_caches()
    assert _cache_manager_empty(spark)
    # results unaffected by cache lifecycle
    assert n1 == rp._q_dedup_neardup_union(spark, SF_TEST).count()
    assert n2 == rp._q_ann_topk_union(spark, SF_TEST).count()
    release_caches()


def test_cache_scope_nests(spark):
    from greenexp_r_spark.plans.caching import (cache_scope,
                                                release_caches,
                                                tracked_persist)

    release_caches()
    outer = tracked_persist(spark.range(10))
    outer.count()
    with cache_scope():
        inner = tracked_persist(spark.range(20))
        inner.count()
        assert not _cache_manager_empty(spark)
    # inner released, outer still cached
    assert outer.storageLevel.useMemory
    assert not inner.storageLevel.useMemory
    release_caches()
    assert _cache_manager_empty(spark)


def test_entry_queries_release_at_boundary(spark):
    """The driver contract wrapper releases the previous query's
    caches when the next query is built."""
    import __spark_entry__ as entrymod
    from greenexp_r_spark.plans import caching

    qs = entrymod.queries()
    qs["q_dedup_neardup"](spark, SF_TEST).count()
    assert len(caching._live) > 0
    # building ANY next query evicts the previous query's caches
    qs["q_text_profile"](spark, SF_TEST)
    assert len(caching._live) == 0
    caching.release_caches()


def test_persisted_small_aggregate_gets_aqe_partition_count(spark):
    """A persisted aggregate is sized by AQE like any other final
    stage instead of keeping spark.sql.shuffle.partitions partitions
    (each one a task, and a Python worker, in every consumer)."""
    from pyspark.sql import functions as F

    agg = (spark.range(1000).groupBy((F.col("id") % 10).alias("k"))
           .count().persist())
    try:
        assert agg.count() == 10
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert agg.rdd.getNumPartitions() < n_shuffle
    finally:
        agg.unpersist()
