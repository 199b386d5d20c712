"""End-to-end ETL pipeline test on a synthetic IndiaMART-style raw CSV
(the reference's input shape: etl.py load_raw_data → export_outputs)."""

from __future__ import annotations

import sqlite3

import pytest

from b2b_data_pipeline_indiamart_spark.operators import caching
from b2b_data_pipeline_indiamart_spark.pipeline import (
    DEFAULT_FINAL_COLUMNS,
    ETLConfig,
    run_pipeline,
)

RAW_HEADER = (
    "Search Keyword,Product Name,Supplier Name,City,State,Rating,Price,"
    "Phone,Product URL,Supplier URL,CatId,McatId,ItemId,DispId,Scraped At"
)

RAW_ROWS = [
    # normal row
    'bakery oven,Deck Oven,acme kitchen co,chennai,tamilnadu,4.5,"₹ 78,000/Piece",'
    "+91 98765-43210,https://x.in/p/1,https://x.in/s/1,1,2,100,1000,2026-01-01T00:00:00",
    # duplicate of row 1 by (product_url, dispid) — must be dropped
    'bakery oven,Deck Oven DUP,acme kitchen co,chennai,tamilnadu,4.5,"₹ 78,000/Piece",'
    "+91 98765-43210,https://x.in/p/1,https://x.in/s/1,1,2,101,1000,2026-01-01T00:00:01",
    # Ask Price → NULL price; missing city; rating out of range
    "mixer grinder,Mixie 750W,globex,,kerala,9.9,Ask Price,"
    ",https://x.in/p/2,https://x.in/s/2,1,2,102,1001,2026-01-01T00:00:02",
    # missing product name → critical drop + issue; bad URL
    "mixer grinder,,globex,kochi,kerala,4.0,₹ 500/Unit,"
    ",notaurl,https://x.in/s/3,1,2,103,1002,2026-01-01T00:00:03",
    # null-ish tokens → NULL; unmapped state
    "wet & dry vacuum cleaner,VacPro,NaN,mumbai,sikkim,3.0,₹ 1500/Piece,"
    ",https://x.in/p/4,https://x.in/s/4,1,2,104,1003,2026-01-01T00:00:04",
]


@pytest.fixture()
def raw_csv(tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text(RAW_HEADER + "\n" + "\n".join(RAW_ROWS) + "\n", encoding="utf-8-sig")
    return p


def test_run_pipeline_end_to_end(spark, raw_csv, tmp_path):
    cfg = ETLConfig(
        input_file=str(raw_csv),
        output_csv=str(tmp_path / "clean.csv"),
        profile_report=str(tmp_path / "profile.csv"),
        quality_issues=str(tmp_path / "issues.csv"),
        output_db=str(tmp_path / "products.db"),
    )
    out = run_pipeline(spark, cfg)
    # the returned frames are checkpointed, not cached: dropping every
    # tracked cache entry must leave them readable
    caching.release_cached()

    final = {r["dispid"]: r for r in out["final"].collect()}
    # exact curated column set + order (etl.py:403-408)
    assert out["final"].columns == list(DEFAULT_FINAL_COLUMNS)
    # dup dropped (keep-first = lowest itemid); the missing-name row AND
    # the scrubbed-"NaN"-supplier row fail drop_critical_missing
    assert sorted(final) == [1000.0, 1001.0]

    r1 = final[1000.0]
    assert r1["price_numeric"] == 78000.0
    assert r1["price_unit"] == "Piece"
    assert r1["price_bucket"] == "High (50k+)"
    assert r1["state"] == "Tamil Nadu"          # alias fix
    assert r1["supplier_region"] == "South"
    assert r1["supplier_name"] == "Acme Kitchen Co"  # title case
    assert r1["search_keyword"] == "bakery oven"

    r2 = final[1001.0]
    assert r2["price_numeric"] is None           # Ask Price
    assert r2["price_bucket"] == "Unknown"
    assert r2["city"] == "Unknown"               # fill_unknown

    issues = {(r["row_key"], r["issue"]) for r in out["issues"].collect()}
    assert (1001, "rating_out_of_range") in issues
    assert (1002, "missing_product_name") in issues
    assert (1002, "invalid_product_url") in issues
    assert (1003, "missing_supplier_name") in issues  # "NaN" scrubbed to NULL

    profile = {r["column"]: r for r in out["profile"].collect()}
    assert profile["price_numeric"]["nulls"] == 1
    assert profile["product_name"]["n_rows"] == 2

    con = sqlite3.connect(cfg.output_db)
    n, regions = con.execute(
        "SELECT COUNT(*), COUNT(DISTINCT supplier_region) FROM products"
    ).fetchone()
    con.close()
    assert n == 2 and regions == 1  # both survivors roll up to South


def test_analyze_chart_set(spark, raw_csv, tmp_path):
    from b2b_data_pipeline_indiamart_spark.pipeline import analyze

    cfg = ETLConfig(
        input_file=str(raw_csv),
        output_csv=str(tmp_path / "clean.csv"),
        profile_report=str(tmp_path / "profile.csv"),
        quality_issues=str(tmp_path / "issues.csv"),
        export_sqlite=False,
    )
    out = run_pipeline(spark, cfg)
    final = out["final"]
    charts = analyze(final)
    # every sink and chart reads the materialized ETL, never the raw CSV
    for name, df in {**out, **charts}.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FileScan csv" not in plan, name
        assert "Scan ExistingRDD" in plan, name
    assert set(charts) >= {
        "kpi_cards", "avg_price_by_keyword", "top_cities", "keyword_share",
        "city_index", "count_avg_combo", "treemap_top8",
        "top10_price_cumulative", "price_histogram", "rating_price_scatter",
    }
    kpi = charts["kpi_cards"].collect()[0]
    assert kpi["total_rows"] == 2 and kpi["n_keywords"] == 2
    share = {r["label"]: r["share_pct"] for r in charts["keyword_share"].collect()}
    assert abs(sum(share.values()) - 100.0) < 0.02
    hist = charts["price_histogram"].collect()
    assert sum(r["cnt"] for r in hist) == 1  # one priced row survives the clip


def test_winsorize_branch_keeps_null_price_unknown(spark, tmp_path):
    # ≥10 non-null prices triggers the winsorize branch (etl.py:303-306);
    # the rows with no price must still bucket to 'Unknown' — an unguarded
    # clip would rewrite NULL to the lower IQR bound and mis-bucket them.
    p = tmp_path / "raw.csv"
    priced = [
        f"Widget {i},Acme,₹ {1000 * (i + 1)}/Piece,{i}" for i in range(12)
    ]
    unpriced = ["NoPrice A,Acme,Ask Price,100", "NoPrice B,Acme,Get Quote,101"]
    p.write_text(
        "Product Name,Supplier Name,Price,DispId\n" + "\n".join(priced + unpriced) + "\n"
    )
    cfg = ETLConfig(
        input_file=str(p),
        output_csv=str(tmp_path / "clean.csv"),
        profile_report=str(tmp_path / "profile.csv"),
        quality_issues=str(tmp_path / "issues.csv"),
        export_sqlite=False,
    )
    rows = {r["dispid"]: r for r in run_pipeline(spark, cfg)["final"].collect()}
    assert len(rows) == 14
    for key in (100.0, 101.0):
        assert rows[key]["price_numeric"] is None
        assert rows[key]["price_bucket"] == "Unknown"
    assert rows[0.0]["price_bucket"] == "Low (<10k)"


def test_pipeline_without_phone_or_sqlite(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text(
        "Product Name,Supplier Name,Price,DispId\n"
        "Widget,Acme,₹ 100/Piece,1\nGadget,Globex,₹ 20000/Set,2\n"
    )
    cfg = ETLConfig(
        input_file=str(p),
        output_csv=str(tmp_path / "clean.csv"),
        profile_report=str(tmp_path / "profile.csv"),
        quality_issues=str(tmp_path / "issues.csv"),
        export_sqlite=False,
        winsorize_price=False,
    )
    out = run_pipeline(spark, cfg)
    rows = out["final"].collect()
    assert len(rows) == 2
    # absent source columns surface as NULL in the curated schema
    assert all(r["search_keyword"] is None for r in rows)
    assert {r["price_bucket"] for r in rows} == {"Low (<10k)", "Mid (10k-50k)"}


def test_observe_quality_metrics_ride_the_action(spark):
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark.operators.profiling import observe_quality

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id long, v double"
    )
    observed, obs = observe_quality(
        df, numeric_col="v", required_cols=["v"]
    )
    # one action drives both the "real work" and the metrics
    assert observed.filter(F.col("id") > 0).count() == 3
    got = obs.get
    assert got["n_rows"] == 3
    assert got["n_null_v"] == 1
    assert got["sum_v"] == 40.0
    assert got["min_v"] == 10.0 and got["max_v"] == 30.0


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` with its Spark jobs in ``group``; return how many ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pipeline_job_budget(spark, tmp_path):
    """``run_pipeline`` and ``analyze`` (every chart collected) run no
    more Spark jobs than when the typed frame was first evaluated once
    and the charts first shared two aggregates. The budget only
    tightens: on this fixture the earlier forms ran 15 and 25. Ten
    more priced rows than the e2e fixture take the winsorize branch."""
    import uuid

    from b2b_data_pipeline_indiamart_spark.pipeline import analyze

    raw = tmp_path / "raw.csv"
    priced = [
        f"led tv,TV {i},globex,pune,maharashtra,4.0,₹ {900 * (i + 1)}/Piece,"
        f",https://x.in/p/{10 + i},https://x.in/s/9,1,2,{200 + i},{2000 + i},2026-01-02T00:00:00"
        for i in range(10)
    ]
    raw.write_text(RAW_HEADER + "\n" + "\n".join(RAW_ROWS + priced) + "\n", encoding="utf-8-sig")
    cfg = ETLConfig(
        input_file=str(raw),
        output_csv=str(tmp_path / "clean.csv"),
        profile_report=str(tmp_path / "profile.csv"),
        quality_issues=str(tmp_path / "issues.csv"),
        output_db=str(tmp_path / "products.db"),
    )
    tag = uuid.uuid4().hex
    out = {}
    n_pipeline = _jobs_in_group(
        spark, f"run_pipeline-{tag}", lambda: out.update(run_pipeline(spark, cfg))
    )
    n_analyze = _jobs_in_group(
        spark, f"analyze-{tag}",
        lambda: [df.collect() for df in analyze(out["final"]).values()],
    )
    assert n_pipeline <= 13, n_pipeline
    assert n_analyze <= 21, n_analyze


FINAL_SCHEMA = (
    "search_keyword string, city string, price_numeric double, "
    "product_name string, dispid double, rating double"
)


def _hostile_final():
    """Rows for ``analyze``: a NULL keyword tied for the most rows, a
    keyword whose prices are all NULL, count ties at every level,
    zero, negative and NaN prices, tied prices, NULL cities."""
    rows = []
    prices = {
        "k1": [100.5, 200.25, None, 0.0],
        None: [50.0, None, -10.0, 70.0],
        "all null": [None, None, None],
        "k2": [float("nan"), 5.0, 1e6],
        "k3": [7.0, 7.0],
        "k4": [-0.01, 3.33],
        "k5": [100.5],
        "k6": [None],
        "k7": [250000.0],
        "k8": [12.34],
    }
    cities = ["c1", None, "c2", "c3"]
    for kw, ps in prices.items():
        for p in ps:
            i = len(rows)
            rows.append((kw, cities[i % 4], p, f"p{i % 5}", float(i * 7 // 2), float(i % 6)))
    return rows


@pytest.mark.parametrize(
    "rows",
    [
        _hostile_final(),
        [("k1", "c1", 42.0, "p", 7.0, 1.0), ("k1", None, None, "q", 14.0, 2.0)],
        [("k1", "c1", None, "p", 7.0, 1.0), (None, None, None, "q", 14.0, 2.0)],
    ],
    ids=["hostile", "one_priced", "none_priced"],
)
def test_analyze_matches_reference_chart_forms(spark, rows):
    """``analyze`` derives six charts from two shared aggregates and
    clips at a collected p99. The reference is the chart set it
    replaced: one ``operators.analytics`` chart form per chart over
    ``final``, and a broadcast p99 crossJoin. Every chart must return
    the same rows in the same order."""
    from pyspark.sql import functions as F

    from b2b_data_pipeline_indiamart_spark.operators import analytics
    from b2b_data_pipeline_indiamart_spark.pipeline import analyze

    final = spark.createDataFrame(rows, FINAL_SCHEMA).repartition(3, "dispid").localCheckpoint()
    priced = final.filter(F.col("price_numeric").isNotNull())
    thr = priced.agg(F.expr("approx_percentile(price_numeric, 0.99)").alias("p99"))
    clipped = priced.crossJoin(F.broadcast(thr)).filter(F.col("price_numeric") <= F.col("p99"))
    reference = {
        "kpi_cards": analytics.kpi_summary(
            final, {"n_keywords": "search_keyword", "n_cities": "city"}, "price_numeric",
            exact=False,
        ),
        "avg_price_by_keyword": analytics.avg_by_group(
            final, "search_keyword", "price_numeric", n=10
        ),
        "top_cities": analytics.top_groups(final, "city", n=10),
        "keyword_share": analytics.share_top_n_others(final, "search_keyword", n=5),
        "city_index": analytics.top_groups(final, "city", n=1000),
        "count_avg_combo": analytics.count_avg_combo(
            final, "search_keyword", "price_numeric", n=8
        ),
        "treemap_top8": analytics.top_groups(final, "search_keyword", n=8),
        "top10_price_cumulative": analytics.topk_cumulative(
            priced, "price_numeric", "product_name", k=10
        ),
        "price_histogram": analytics.fixed_histogram(
            clipped, "price_numeric", bin_width=5000.0, max_bin=40
        ),
        "rating_price_scatter": clipped.filter(F.col("dispid") % 7 == 0).select(
            "dispid", "rating", "price_numeric"
        ),
    }
    charts = analyze(final)
    assert list(charts) == list(reference)
    for name, want in reference.items():
        # repr: NaN equals itself, and field names are compared too
        assert [repr(r) for r in charts[name].collect()] == [
            repr(r) for r in want.collect()
        ], name


@pytest.mark.parametrize("n_priced", [9, 10])
def test_winsorize_gate_counts_non_null_prices(spark, n_priced):
    """etl.py:303-306 winsorizes only when at least 10 prices are
    non-null. At 9 the far outlier passes through; at 10 the clip
    equals ``outliers.winsorize`` over the same typed frame."""
    from dataclasses import replace

    from b2b_data_pipeline_indiamart_spark import pipeline as pl
    from b2b_data_pipeline_indiamart_spark.operators import outliers

    rows = [(f"₹ {1000 * (i + 1)}/Piece", str(i)) for i in range(n_priced - 1)]
    rows += [("₹ 10,000,000/Piece", "98"), ("Ask Price", "99"), (None, "100")]
    df = spark.createDataFrame(rows, "price string, dispid string")
    cfg = pl.ETLConfig(input_file="unused.csv")
    got = {
        r["dispid"]: r["price_numeric_winsor"]
        for r in pl.fix_types_and_features(df, cfg).collect()
    }
    typed = pl.fix_types_and_features(df, replace(cfg, winsorize_price=False))
    if n_priced < 10:
        want = {r["dispid"]: r["price_numeric"] for r in typed.collect()}
    else:
        want = {
            r["dispid"]: r["price_numeric_winsor"]
            for r in outliers.winsorize(
                typed.drop("price_numeric_winsor"), "price_numeric",
                out_col="price_numeric_winsor", exact=False,
            ).collect()
        }
        assert want[98.0] < 10_000_000.0  # the outlier is clipped
    assert got == want
    assert got[99.0] is None and got[100.0] is None
