"""Sequence packing: budget invariants, completeness, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.operators import packing


def _docs(spark, counts, ids=None):
    ids = ids or list(range(len(counts)))
    return spark.createDataFrame(
        list(zip(ids, counts)), "doc_id long, ws_tokens long"
    )


def test_packing_invariants(spark):
    df = _docs(spark, [100, 200, 50, 90, 260, 10, 10, 300])
    out = packing.pack_sequences(df, "ws_tokens", budget=256, n_buckets=2).collect()
    # every doc exactly once
    assert sorted(r["doc_id"] for r in out) == list(range(8))
    # bins never exceed the budget unless a single doc does
    bins = {}
    for r in out:
        bins.setdefault((r["pack_bucket"], r["bin_id"]), []).append(r["n_tokens"])
    for toks in bins.values():
        assert sum(toks) <= 256 or len(toks) == 1
    # an oversized doc (260, 300 > 256) sits alone in its bin
    for r in out:
        if r["n_tokens"] > 256:
            assert bins[(r["pack_bucket"], r["bin_id"])] == [r["n_tokens"]]


def test_packing_greedy_order_is_by_doc_id(spark):
    # one bucket: docs 0..3 with 100+100 | 100+? → greedy next-fit in
    # id order gives bins [0,1], [2,3]
    df = _docs(spark, [100, 100, 100, 100])
    out = {
        r["doc_id"]: r["bin_id"]
        for r in packing.pack_sequences(df, "ws_tokens", budget=200, n_buckets=1).collect()
    }
    assert out == {0: 0, 1: 0, 2: 1, 3: 1}


def test_packing_partitioning_invariant(spark):
    df = _docs(spark, [37 * (i % 11) for i in range(300)])
    a = sorted(map(tuple, packing.pack_sequences(df, "ws_tokens", 256).collect()))
    b = sorted(
        map(tuple, packing.pack_sequences(df.repartition(13), "ws_tokens", 256).collect())
    )
    assert a == b


def test_packing_rejects_bad_budget(spark):
    with pytest.raises(ValueError):
        packing.pack_sequences(_docs(spark, [1]), "ws_tokens", budget=0)


def test_packing_null_tokens_count_zero(spark):
    df = spark.createDataFrame([(1, None), (2, 10)], "doc_id long, ws_tokens long")
    out = {r["doc_id"]: r["n_tokens"] for r in packing.pack_sequences(df, "ws_tokens", 256).collect()}
    assert out == {1: 0, 2: 10}
