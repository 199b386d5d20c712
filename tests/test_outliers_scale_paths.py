"""The approx=False paths are the documented 100 TB story for every
quantile-based operator — they must run and land near the exact
answer."""

from __future__ import annotations

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark import catalog
from b2b_data_pipeline_indiamart_spark.operators import outliers


def test_winsorize_approx_close_to_exact(spark, sf_small):
    orders = catalog.load(spark, sf_small, "orders")
    exact = outliers.winsorize(orders, "o_totalprice", exact=True)
    approx = outliers.winsorize(orders, "o_totalprice", exact=False)
    e = exact.agg(F.sum("o_totalprice_winsor")).collect()[0][0]
    a = approx.agg(F.sum("o_totalprice_winsor")).collect()[0][0]
    assert abs(a - e) / abs(e) < 0.02  # t-digest bounds within 2% here


def test_winsorize_preserves_nulls(spark):
    # pandas clip propagates NaN; Spark greatest/least skip NULLs, so an
    # unguarded clip would rewrite NULL to the lower IQR bound. NULL in
    # must stay NULL out, with the non-null rows still clipped.
    vals = [(float(i),) for i in range(1, 21)] + [(1_000_000.0,), (None,), (None,)]
    df = spark.createDataFrame(vals, "v double")
    out = {r["v"]: r["v_winsor"] for r in outliers.winsorize(df, "v").collect()}
    assert out[None] is None
    assert out[1_000_000.0] < 1_000_000.0  # outlier clipped to hi bound
    assert out[10.0] == 10.0  # in-range value untouched


def test_quantiles_approx_runs(spark, sf_small):
    orders = catalog.load(spark, sf_small, "orders")
    row = outliers.quantiles(orders, "o_totalprice", (0.25, 0.5, 0.75), exact=False).collect()[0]
    assert row["q_0"] <= row["q_1"] <= row["q_2"]


def test_kpi_summary_approx_mode(spark, sf_small):
    from b2b_data_pipeline_indiamart_spark.operators import analytics

    orders = catalog.load(spark, sf_small, "orders")
    e = analytics.kpi_summary(orders, {"n_cust": "o_custkey"}, "o_totalprice").collect()[0]
    a = analytics.kpi_summary(
        orders, {"n_cust": "o_custkey"}, "o_totalprice", exact=False
    ).collect()[0]
    assert abs(a["n_cust"] - e["n_cust"]) / e["n_cust"] < 0.1
    assert abs(a["median_value"] - e["median_value"]) / e["median_value"] < 0.05
    assert a["total_rows"] == e["total_rows"]


def test_winsorize_preserves_nan(spark):
    # Spark orders NaN as the largest double, so an unguarded clip would
    # rewrite NaN to the hi bound; pandas clip propagates it. NaN in must
    # stay NaN out.
    import math

    vals = [(float(i),) for i in range(1, 21)] + [(float("nan"),), (None,)]
    df = spark.createDataFrame(vals, "v double")
    rows = outliers.winsorize(df, "v").collect()
    nan_out = [r["v_winsor"] for r in rows if r["v"] is not None and math.isnan(r["v"])]
    assert len(nan_out) == 1 and math.isnan(nan_out[0])
    assert {r["v_winsor"] for r in rows if r["v"] is None} == {None}
