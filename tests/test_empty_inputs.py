"""Operators must behave on empty inputs — at 100 TB a filter or a
partition-pruned read can legitimately produce zero rows mid-pipeline,
and a crash there takes down the whole job."""

from __future__ import annotations

import pytest

from b2b_data_pipeline_indiamart_spark.operators import (
    cleaning,
    dedup,
    multimodal,
    outliers,
    profiling,
    similarity,
    textstats,
)


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string, lang string, source string")


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame([], "vec_id long, embedding array<double>")


def test_dedup_family_on_empty(empty_docs):
    assert dedup.exact_dedup_groups(empty_docs).count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs).count() == 0
    assert dedup.simhash_neardup_pairs(empty_docs).count() == 0


def test_textstats_on_empty(empty_docs):
    assert textstats.lang_id(empty_docs).count() == 0
    assert textstats.doc_quality(empty_docs).count() == 0
    assert textstats.token_stats(empty_docs).count() == 0
    assert textstats.doc_fingerprint(empty_docs).count() == 0


def test_similarity_on_empty(empty_emb):
    assert similarity.cosine_neardup_blocked(empty_emb, threshold=0.5).count() == 0
    assert similarity.brute_force_topk(empty_emb, empty_emb).count() == 0
    with pytest.raises(ValueError):
        similarity.kmeans_centroids(empty_emb, dim=64)


def test_multimodal_on_empty(empty_docs):
    media = multimodal.media_from_documents(empty_docs)
    assert multimodal.extract_media_features(media).count() == 0


def test_cleaning_profiling_outliers_on_empty(spark):
    df = spark.createDataFrame([], "k string, v double, ord long")
    assert cleaning.dedup_keep_first_agg(df, ["k"], ["ord"], ["v"]).count() == 0
    assert cleaning.drop_critical_missing(df, ["k"]).count() == 0
    assert profiling.profile_report(df).count() == 3  # one row per column
    # winsorize on empty: quantiles are NULL → clip is a no-op, no crash
    assert outliers.winsorize(df, "v").count() == 0


def test_new_round3_operators_on_empty(spark, empty_docs, empty_emb):
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark.operators import sampling, temporal

    assert textstats.repetition_stats(empty_docs).count() == 0
    assert textstats.quality_filter(empty_docs).count() == 0
    assert (
        sampling.stratified_sample(empty_docs, "lang", "doc_id", {"en": 0.5}).count() == 0
    )
    assert similarity.cosine_range_search(empty_emb, empty_emb, threshold=0.5).count() == 0
    assert similarity.embedding_stats(empty_emb.withColumn("label", F.lit(1))).count() == 0

    empty_ev = spark.createDataFrame([], "id long, user_id long, ts timestamp")
    some_ev = spark.createDataFrame(
        [(1, 7, __import__("datetime").datetime(2024, 1, 1))],
        "id long, user_id long, ts timestamp",
    )
    # empty left, empty right, and mixed — all four shapes must survive
    assert temporal.asof_join(empty_ev, empty_ev, on=["user_id"]).count() == 0
    assert temporal.asof_join(some_ev, empty_ev, on=["user_id"]).count() == 1
    assert temporal.asof_join(empty_ev, some_ev, on=["user_id"]).count() == 0
    agg = [F.count(F.lit(1)).cast("long").alias("cnt")]
    assert temporal.range_join_agg(empty_ev, empty_ev, on=["user_id"], aggs=agg).count() == 0
    assert temporal.range_join_agg(some_ev, empty_ev, on=["user_id"], aggs=agg).count() == 1


def test_round5_operators_on_empty(spark, empty_docs, empty_emb):
    from b2b_data_pipeline_indiamart_spark.operators import decontam, packing, temporal

    assert decontam.decontaminate(empty_docs, empty_docs, n=4).count() == 0
    assert packing.chunk_documents(empty_docs).count() == 0
    assert similarity.scalar_quantize(empty_emb).count() == 0
    assert similarity.ann_topk_sq8(empty_emb, empty_emb).count() == 0
    empty_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert temporal.gap_fill_hourly(empty_events).count() == 0
    assert temporal.retention_cohorts(empty_events).count() == 0
    assert temporal.session_paths(empty_events).count() == 0


def test_round6_ops_on_empty(spark, empty_docs):
    from b2b_data_pipeline_indiamart_spark.operators import sampling, sketches, temporal

    assert textstats.unigram_logprob(empty_docs).count() == 0
    assert sampling.mixture_sample_summary(empty_docs, "source", "doc_id").count() == 0
    assert sampling.sample_per_group(empty_docs, "source", "doc_id").count() == 0
    assert dedup.exact_dup_by_source(empty_docs).count() == 0
    empty_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert temporal.ewma_hourly(empty_events).count() == 0
    assert temporal.session_stats(empty_events).count() == 0
    assert sketches.cms_cells(empty_events, "user_id").count() == 0
    assert sketches.cms_estimate_heavy_hitters(empty_events, "user_id").count() == 0


def test_pq_raises_on_empty_corpus(empty_emb):
    with pytest.raises(ValueError):
        similarity.pq_codebooks(empty_emb, dim=64)


def test_late_round6_ops_on_empty(spark, empty_docs, empty_emb):
    from b2b_data_pipeline_indiamart_spark.operators import ranking

    assert dedup.span_dup_report(empty_docs).count() == 0
    # global_ntile on an empty frame: no rows, bucket column present
    out = ranking.global_ntile(empty_docs, 3, ["doc_id"], "b")
    assert out.count() == 0 and "b" in out.columns
    with pytest.raises(ValueError):
        similarity.pca_variance(empty_emb, dim=64)


def test_bigram_and_concurrency_on_empty(spark, empty_docs):
    from b2b_data_pipeline_indiamart_spark.operators import caching, temporal

    assert textstats.bigram_logprob(empty_docs).count() == 0
    empty_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    # sweep over zero sessions: one row of nulls would be wrong — the
    # peak of an empty stream is no row at all
    out = temporal.max_concurrency(empty_events).collect()
    caching.release_cached()
    assert out == [] or out[0]["max_concurrent"] is None


def test_round9_additions_on_empty(spark, empty_docs, empty_emb):
    from b2b_data_pipeline_indiamart_spark.operators import sampling, sketches, temporal

    empty_w = spark.createDataFrame([], "id long, w int")
    assert sampling.weighted_sample_bottomk(empty_w, "id", "w", k=10).count() == 0
    assert dedup.blocked_jaccard_pairs(empty_docs).count() == 0
    empty_events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    assert temporal.dedup_within_window(empty_events).count() == 0
    assert (
        sketches.hll_cardinality_portable(empty_events, "event_type", "user_id").count()
        == 0
    )
    assert similarity.embedding_cov_quantized(empty_emb, dim=64).count() == 0
    # seeded ANN twins: empty corpus means empty seed set and empty result
    assert (
        similarity.ann_ivf_seeded_topk(empty_emb, empty_emb, n_seeds=16).count() == 0
    )
    assert (
        similarity.ann_pq_seeded_topk(empty_emb, empty_emb, dim=64, m=16).count() == 0
    )
    assert (
        similarity.ann_ivfpq_seeded_topk(empty_emb, empty_emb, dim=64, m=16).count()
        == 0
    )
    assert (
        similarity.ann_ivf_lloyd_seeded_topk(empty_emb, empty_emb, n_seeds=16).count()
        == 0
    )
