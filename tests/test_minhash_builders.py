"""The MinHash builders are written as SQL text for build speed (see the
note above ``dedup.minhash_signatures``). Their Column-API forms live
here as the reference: both must give the same optimized plan, with
expression and lambda ids masked as ``tools/dump_plans.py`` masks them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.operators import dedup
from tools.dump_plans import mask_ids


def ref_signatures(docs, text_col="text", id_col="doc_id", k=64, shingle_n=5):
    exploded = dedup._with_normalized(docs, text_col, id_col).select(
        F.col(id_col),
        F.explode(
            F.transform(
                dedup.char_shingles(F.col("__norm"), shingle_n),
                lambda s: F.xxhash64(s),
            )
        ).alias("__h"),
    )
    aggs = [F.min(F.xxhash64(F.lit(i), F.col("__h"))).alias(f"mh_{i}") for i in range(k)]
    return exploded.groupBy(id_col).agg(*aggs)


def ref_band_table(signatures, id_col="doc_id", k=64, bands=16):
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(*[F.col(f"mh_{b * r + j}") for j in range(r)]).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return (
        signatures.select(F.col(id_col), F.explode(band_structs).alias("bb"))
        .select(id_col, "bb.band_id", "bb.band_hash")
    )


def ref_estimate(pairs, signatures, id_col="doc_id", k=64, signatures_b=None):
    agree = sum((F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(k))
    sig_a = signatures.select(
        F.col(id_col).alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(k)]
    )
    sig_b = (signatures_b if signatures_b is not None else signatures).select(
        F.col(id_col).alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(k)]
    )
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select("id_a", "id_b", (agree / F.lit(float(k))).alias("est_jaccard"))
    )


def optimized(df) -> str:
    return mask_ids(df._jdf.queryExecution().optimizedPlan().toString())


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "industrial steel pipe fittings"), (2, "industrial steel pipe fitting"),
         (3, "cotton yarn for weaving")],
        "doc_id long, text string",
    )


def _sigs(spark, k, offset=0):
    """A signature table (doc_id, mh_0..mh_{k-1}) that no builder made."""
    return spark.range(3).selectExpr(
        "id AS doc_id", *[f"xxhash64(id, {i + offset}) AS mh_{i}" for i in range(k)]
    )


@pytest.mark.parametrize("k,bands", [(64, 16), (32, 8)])
def test_signatures_and_bands_plan_like_the_column_forms(spark, docs, k, bands):
    assert optimized(dedup.minhash_signatures(docs, k=k)) == optimized(
        ref_signatures(docs, k=k)
    )
    sigs = _sigs(spark, k)
    new = dedup.band_table(sigs, k=k, bands=bands)
    assert optimized(new) == optimized(ref_band_table(sigs, k=k, bands=bands))
    assert new.schema == ref_band_table(sigs, k=k, bands=bands).schema


@pytest.mark.parametrize("k", [64, 32])
@pytest.mark.parametrize("two_sided", [False, True])
def test_estimate_plans_like_the_column_form(spark, k, two_sided):
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    sigs = _sigs(spark, k)
    other = _sigs(spark, k, offset=1) if two_sided else None
    new = dedup.minhash_estimate(pairs, sigs, k=k, signatures_b=other)
    ref = ref_estimate(pairs, sigs, k=k, signatures_b=other)
    assert optimized(new) == optimized(ref)
    assert new.schema == ref.schema
    assert sorted(new.collect()) == sorted(ref.collect())
