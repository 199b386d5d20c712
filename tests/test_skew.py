from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark import catalog
from b2b_data_pipeline_indiamart_spark.operators.skew import salted_join


def test_salted_join_matches_plain_join(spark, sf_small):
    li = catalog.load(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    orders = catalog.load(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = li.join(orders, ["l_orderkey"]).collect()
    salted = salted_join(li, orders, ["l_orderkey"], n_salts=8).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_salted_join_spreads_hot_key(spark):
    # one key carries 90% of the rows; salted plan joins on (key, salt)
    facts = spark.createDataFrame(
        [(1 if i < 900 else i, float(i)) for i in range(1000)], ["k", "v"]
    )
    build = spark.createDataFrame([(i, f"d{i}") for i in range(1000)], ["k", "d"])
    out = salted_join(facts, build, ["k"], n_salts=8)
    assert out.count() == 1000
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "__salt" in buf.getvalue()  # join condition includes the salt


def test_hot_keys_detects_above_threshold(spark):
    facts = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, i) for i in range(3)] + [(3, 0)],
        ["k", "v"],
    )
    from b2b_data_pipeline_indiamart_spark.operators.skew import hot_keys

    got = {r["k"] for r in hot_keys(facts, ["k"], threshold=3).collect()}
    assert got == {1}


def test_hybrid_salted_join_matches_plain_join(spark):
    from b2b_data_pipeline_indiamart_spark.operators.skew import hybrid_salted_join

    facts = spark.createDataFrame(
        [(1 if i < 900 else i % 50, float(i)) for i in range(1000)], ["k", "v"]
    )
    build = spark.createDataFrame([(i, f"d{i}") for i in range(60)], ["k", "d"])
    plain = sorted(map(tuple, facts.join(build, ["k"]).collect()))
    hybrid = sorted(
        map(tuple, hybrid_salted_join(facts, build, ["k"], threshold=100, n_salts=8).collect())
    )
    assert plain == hybrid


def test_hybrid_plan_has_salted_and_plain_branches(spark):
    # cold keys must take the UNSALTED path: the optimized plan carries
    # two join branches under a union — one on (k, __salt), one on k
    from b2b_data_pipeline_indiamart_spark.operators.skew import hybrid_salted_join

    facts = spark.createDataFrame(
        [(1 if i < 90 else i, float(i)) for i in range(100)], ["k", "v"]
    )
    build = spark.createDataFrame([(i, f"d{i}") for i in range(100)], ["k", "d"])
    out = hybrid_salted_join(facts, build, ["k"], threshold=10, n_salts=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") >= 2
    assert "Union" in plan
    assert "__salt" in plan
    # the cold branch's join condition must NOT involve the salt:
    # at least one Join line mentions k without __salt
    join_lines = [ln for ln in plan.splitlines() if "Join Inner" in ln or "Join LeftOuter" in ln]
    assert any("__salt" not in ln for ln in join_lines), join_lines
    assert any("__salt" in ln for ln in join_lines), join_lines
