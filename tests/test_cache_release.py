"""Persisted-intermediate lifetime (ADVICE r3): the dedup family
persists band/signature/pair tables internally; a long-lived session
composing several operators must be able to return to its pre-run
cache state. Each registry key is run to completion, then
``caching.release_cached()`` must leave NO persisted RDD (cached
DataFrame or localCheckpoint block) beyond what existed before."""

from __future__ import annotations

import pytest

from b2b_data_pipeline_indiamart_spark.operators import caching

DEDUP_KEYS = [
    "dedup_minhash_lsh",
    "dedup_clusters",
    "dedup_clusters_blocked",
    "dedup_simhash",
    "ngram_jaccard",
    "docs_span_dedup",
    "docs_perplexity_buckets",
    "part_basket_lift",
    "orders_value_deciles",
    "events_max_concurrency",
    "customer_rfm",
    "docs_vocab_coverage",
]


@pytest.mark.parametrize("key", DEDUP_KEYS)
def test_dedup_key_releases_all_caches(spark, sf_small, key):
    from __spark_entry__ import queries

    caching.release_cached()  # isolate from earlier tests
    before = caching.persistent_rdd_ids(spark)
    rows = queries()[key](spark, sf_small).collect()
    assert rows  # the key actually ran
    caching.release_cached()
    leaked = caching.persistent_rdd_ids(spark) - before
    assert leaked == set()


def test_dedup_clusters_releases_pair_caches_in_operator(spark, sf_small):
    """The eager part: pairs + LSH band table are released by the
    operator itself (scoped release after the CC loop truncates
    lineage), without waiting for release_cached()."""
    from b2b_data_pipeline_indiamart_spark import catalog
    from b2b_data_pipeline_indiamart_spark.operators import dedup

    caching.release_cached()
    docs = catalog.load(spark, sf_small, "documents")
    out = dedup.dedup_clusters(docs)
    # after construction (CC ran eagerly): only members (1 cached DF)
    # remains tracked; pairs + band table were released in-operator
    assert len(caching._TRACKED) == 1
    out.collect()
    caching.release_cached()


def test_scope_releases_inner_persists_on_error(spark):
    """``caching.scope`` unpersists what was tracked inside it even
    when the block raises; a frame tracked before the scope stays."""
    caching.release_cached()
    outer = caching.persist_tracked(spark.range(10))
    outer.count()
    inner = None
    with pytest.raises(RuntimeError, match="boom"):
        with caching.scope():
            inner = caching.persist_tracked(spark.range(20))
            inner.count()
            assert inner.storageLevel.useMemory
            raise RuntimeError("boom")
    assert not inner.storageLevel.useMemory
    assert outer.storageLevel.useMemory
    assert len(caching._TRACKED) == 1 and caching._TRACKED[0] is outer
    caching.release_cached()
