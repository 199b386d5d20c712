"""Deterministic stratified sampling + PII redaction unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.operators import sampling


def test_stratified_sample_partitioning_invariant(spark):
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    )
    kept1 = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample(df, "lang", "doc_id", {"en": 0.3}).collect()
    )
    kept2 = sorted(
        r["doc_id"]
        for r in sampling.stratified_sample(
            df.repartition(13), "lang", "doc_id", {"en": 0.3}
        ).collect()
    )
    assert kept1 == kept2  # keep/drop is a pure function of (stratum, id)


def test_stratified_sample_rates(spark):
    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = sampling.stratified_sample(df, "lang", "doc_id", {"en": 0.2}).groupBy("lang").count()
    counts = {r["lang"]: r["count"] for r in out.collect()}
    assert counts["de"] == 1500  # default rate 1.0 keeps everything
    assert 200 < counts["en"] < 400  # ~20% of 1500, binomial slack


def test_stratified_sample_subset_monotone(spark):
    # raising a stratum's rate only ADDS rows (thresholds nest)
    df = spark.range(1000).select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    lo = {r["doc_id"] for r in sampling.stratified_sample(df, "lang", "doc_id", {"en": 0.2}).collect()}
    hi = {r["doc_id"] for r in sampling.stratified_sample(df, "lang", "doc_id", {"en": 0.6}).collect()}
    assert lo <= hi


def test_redact_pii_patterns(spark):
    rows = [
        (1, "mail me at jo.doe+x@corp.example.org thanks"),
        (2, "call +91-9812345678 or 022 1234 5678 now"),
        (3, "both a@b.io and 99887766554"),
        (4, "clean text, keep 123 and v2.0 intact"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    n_e, n_p = sampling.pii_counts(F.col("s"))
    out = {
        r["id"]: r
        for r in df.select(
            "id", sampling.redact_pii(F.col("s")).alias("red"), n_e.alias("ne"), n_p.alias("np")
        ).collect()
    }
    assert out[1]["red"] == "mail me at [EMAIL] thanks" and out[1]["ne"] == 1
    assert out[2]["red"] == "call [PHONE] or [PHONE] now" and out[2]["np"] == 2
    assert out[3]["red"] == "both [EMAIL] and [PHONE]"
    assert out[4]["red"] == rows[3][1] and out[4]["ne"] == 0 and out[4]["np"] == 0


def test_sampling_plan_is_shuffle_free(spark):
    df = spark.range(10).select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    plan = (
        sampling.stratified_sample(df, "lang", "doc_id", {"en": 0.5})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_k_anonymity_report(spark):
    from b2b_data_pipeline_indiamart_spark.operators.sampling import (
        k_anonymity_report,
    )

    rows = (
        [("IN", "retail", i) for i in range(6)]      # big group: safe
        + [("US", "retail", 10), ("US", "retail", 11)]  # size 2: risky
        + [(None, "b2b", 20)]                        # NULL group size 1: risky
    )
    df = spark.createDataFrame(rows, "country string, segment string, id long")
    [r] = k_anonymity_report(df, ["country", "segment"], k=5).collect()
    assert (r["n_rows"], r["n_groups"]) == (9, 3)
    assert (r["n_small_groups"], r["n_risky_rows"]) == (2, 3)
    assert r["risky_row_share"] == 0.3333
