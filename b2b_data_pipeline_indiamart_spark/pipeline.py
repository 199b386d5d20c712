"""Drop-in end-to-end ETL pipeline: the Spark-native ``etl.py``.

Mirrors the reference's ``ETLConfig`` + ``run_pipeline`` flow
(etl.py:34-64, 453-473) step for step — load → standardize →
types/features → issues → missing → dedup → drop-critical → curate →
profile → export — so a reference user can point this at the same raw
CSV and get the same curated dataset, profile report, quality-issue
table, and SQLite/CSV outputs, with every step running as a
distributed DataFrame plan instead of a pandas loop.

CLI parity (etl.py:440-490)::

    python -m b2b_data_pipeline_indiamart_spark.pipeline \
        --input raw.csv --output clean_data.csv --no-sqlite
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.geo import state_to_region
from .functions.hashing import digits_only, salted_sha256
from .functions.prices import parse_price_number, parse_price_unit, price_bucket
from .functions.rounding import money_ints, round_half_up
from .functions.text import is_valid_url, normalize_keyword, normalize_place
from .operators import cleaning, outliers, profiling
from .sources.csv_source import read_csv_normalized
from .sources.sinks import write_csv, write_sqlite

#: etl.py:48-64 — the curated output columns, in order
DEFAULT_FINAL_COLUMNS = (
    "search_keyword",
    "product_name",
    "supplier_name",
    "city",
    "state",
    "supplier_region",
    "rating",
    "price_numeric",
    "price_unit",
    "price_bucket",
    "product_url",
    "supplier_url",
    "catid",
    "mcatid",
    "itemid",
    "dispid",
    "scraped_at",
)


@dataclass
class ETLConfig:
    """Parity: etl.py:34-64 (same fields, same defaults)."""

    input_file: str
    output_csv: str = "clean_data.csv"
    profile_report: str = "data_profile_report.csv"
    quality_issues: str = "data_quality_issues.csv"
    export_sqlite: bool = True
    output_db: str = "products.db"
    keep_phone_hash: bool = True
    winsorize_price: bool = True
    final_columns: tuple[str, ...] = field(default=DEFAULT_FINAL_COLUMNS)


def standardize_fields(df: DataFrame) -> DataFrame:
    """etl.py:257-274: clean every string column, then the targeted
    normalizations (keyword aliases, city/state fixes, supplier title
    case) — one ``select`` and one ``withColumns``, column order kept."""
    df = cleaning.standardize_strings(df)
    specials = {
        "search_keyword": normalize_keyword,
        "city": normalize_place,
        "state": normalize_place,
        "supplier_name": lambda c: F.initcap(c),
    }
    return df.withColumns({c: fn(F.col(c)) for c, fn in specials.items() if c in df.columns})


def fix_types_and_features(df: DataFrame, config: ETLConfig) -> DataFrame:
    """etl.py:277-313: price parse, numeric coercions, phone→hash,
    winsorize, bucket, region.

    The typed columns are one ``withColumns``, materialized by an eager
    ``localCheckpoint`` before winsorize, so the regex chains run once.
    etl.py:303-306 winsorizes only when ≥10 non-null prices exist: that
    count and both IQR bounds are one aggregate over the checkpoint,
    collected as one row, and the clip takes the bounds as literals.
    The bounds are t-digest ``approx_percentile``, the single-pass
    mergeable path; the oracle-gated ``winsorize_price`` registry key
    requests the exact percentile itself. Returns a cheap projection
    over the checkpoint."""
    # an absent price column parses as NULL (Catalyst folds the chain)
    price = F.col("price") if "price" in df.columns else F.lit(None).cast("string")
    typed = {"price_numeric": parse_price_number(price), "price_unit": parse_price_unit(price)}
    for c in ("rating", "catid", "mcatid", "itemid", "dispid"):
        if c in df.columns:
            typed[c] = F.col(c).cast("double")
    if "phone" in df.columns and config.keep_phone_hash:
        typed["phone_hash"] = salted_sha256(digits_only(F.col("phone")))
    df = df.withColumns(typed).drop("phone").localCheckpoint()

    winsor = F.col("price_numeric")
    if config.winsorize_price:
        lo, hi = outliers.iqr_bounds(
            *(F.expr(f"approx_percentile(price_numeric, {p})") for p in (0.25, 0.75))
        )
        gate = df.agg(F.count("price_numeric").alias("n"), lo.alias("lo"), hi.alias("hi")).first()
        if gate["n"] >= 10:
            winsor = outliers.clip("price_numeric", F.lit(gate["lo"]), F.lit(gate["hi"]))
    df = df.withColumn("price_numeric_winsor", winsor)
    state_col = F.col("state") if "state" in df.columns else F.lit(None).cast("string")
    return df.withColumns(
        {
            "price_bucket": price_bucket(F.col("price_numeric_winsor")),
            "supplier_region": state_to_region(state_col),
        }
    )


def validate_and_collect_issues(df: DataFrame, key_col: str) -> DataFrame:
    """etl.py:315-346 — one output row per (row_key, failed check).
    The reference keys issues by pandas row index; a distributed table
    has no stable index, so the caller names a key column (dispid /
    itemid). Each check is a pushed-down filter branch."""
    cols = set(df.columns)
    checks: dict[str, F.Column] = {}
    if "product_name" in cols:
        checks["missing_product_name"] = F.col("product_name").isNull()
    if "supplier_name" in cols:
        checks["missing_supplier_name"] = F.col("supplier_name").isNull()
    for side in ("product", "supplier"):
        url = f"{side}_url"
        if url in cols:
            checks[f"invalid_{url}"] = F.col(url).isNotNull() & ~F.coalesce(
                is_valid_url(F.col(url)), F.lit(False)
            )
    if "price_numeric" in cols:
        checks["non_positive_price"] = F.col("price_numeric").isNotNull() & (
            F.col("price_numeric") <= 0
        )
    if "rating" in cols:
        checks["rating_out_of_range"] = F.col("rating").isNotNull() & (
            (F.col("rating") < 0) | (F.col("rating") > 5)
        )
    return cleaning.collect_quality_issues(df, checks, F.col(key_col))


def deduplicate(df: DataFrame) -> DataFrame:
    """etl.py:358-368: keep-first on (product_url, dispid). "First" is
    made explicit — lowest (dispid, itemid) — because input order is
    not a stable concept across partitions; the agg formulation gets
    map-side combine (see cleaning.dedup_keep_first_agg)."""
    keys = [k for k in ("product_url", "dispid") if k in df.columns]
    if not keys:
        return df.dropDuplicates()
    order_cols = [c for c in ("dispid", "itemid", "scraped_at") if c in df.columns and c not in keys]
    if not order_cols:
        return df.dropDuplicates(keys)
    payload = [c for c in df.columns if c not in keys and c not in order_cols]
    return cleaning.dedup_keep_first_agg(df, keys, order_cols, payload)


def run_pipeline(spark: SparkSession, config: ETLConfig) -> dict[str, DataFrame]:
    """etl.py:453-473, step for step. Returns the three result frames
    (curated / profile / issues) after writing the configured outputs.

    Two eager ``localCheckpoint`` calls materialize the lineage once:
    the typed frame inside ``fix_types_and_features``, before winsorize
    (the gate and the bounds read it, and issues and dedup split from a
    cheap projection over it), and ``final`` (read by the profile, the
    sinks and every ``analyze`` chart). Unlike ``persist``, a checkpoint
    truncates the plan and leaves no cache entry: the blocks live as
    long as the returned frames, are freed by Spark's ContextCleaner,
    and ``caching.release_cached`` never drops them."""
    df = read_csv_normalized(spark, config.input_file)
    df = standardize_fields(df)
    df = fix_types_and_features(df, config)

    key_col = next((k for k in ("dispid", "itemid") if k in df.columns), None)
    issues = (
        validate_and_collect_issues(df, key_col)
        if key_col
        else spark.createDataFrame([], "row_key long, issue string")
    )

    df = cleaning.fill_unknown(df, [c for c in ("city", "state") if c in df.columns])
    df = deduplicate(df)
    df = cleaning.drop_critical_missing(
        df, [c for c in ("product_name", "supplier_name") if c in df.columns]
    )
    final = cleaning.curate(df, list(config.final_columns)).localCheckpoint()
    profile = profiling.profile_report(final)

    base = os.path.splitext(config.output_csv)[0]
    write_csv(final, base + "_csvdir", na_rep="NaN", single_file=True)
    write_csv(profile, os.path.splitext(config.profile_report)[0] + "_csvdir", single_file=True)
    write_csv(issues, os.path.splitext(config.quality_issues)[0] + "_csvdir", single_file=True)
    if config.export_sqlite:
        write_sqlite(final, config.output_db, "products", if_exists="replace")
    return {"final": final, "profile": profile, "issues": issues}


def analyze(final: DataFrame) -> dict[str, DataFrame]:
    """The reference's full chart set (analysis.py:205-520) over a
    curated listing table, one small DataFrame per chart.

    Eager: the charts share two aggregates of ``final``, checkpointed
    here — per keyword (rows, priced rows, integer cents) and per city
    (rows) — and the p99 price, collected once. Six charts derive from
    the two aggregates with the tie-breaks and the :func:`exact_avg`
    arithmetic of the ``operators.analytics`` chart forms over
    ``final``; the two price charts filter at the p99 literal.

    The scatter uses the same deterministic key-hash predicate as the
    ``scatter_sample`` registry query (a seeded random sample is not a
    stable concept across partitionings); p99 clipping mirrors
    analysis.py's outlier handling.

    Every percentile is t-digest ``approx_percentile`` and every
    distinct count HLL++ — single-pass, mergeable map-side, the 100 TB
    path. The oracle-gated registry keys request exactness themselves,
    so nothing off the parity surface pays the exact-percentile buffer.
    """
    from .operators import analytics

    by_keyword = final.groupBy(F.col("search_keyword").alias("group_value")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count("price_numeric").alias("n_priced"),
        F.sum(money_ints("price_numeric")).alias("cents"),
    ).localCheckpoint()
    by_city = analytics.group_counts(final, "city").localCheckpoint()
    keyword_counts = by_keyword.select("group_value", "cnt")
    # exact_avg's division, from its two sums
    avg_value = round_half_up(
        F.col("cents") / (F.col("n_priced") * F.lit(100.0)), 2
    ).alias("avg_value")
    priced = final.filter(F.col("price_numeric").isNotNull())
    p99 = priced.agg(F.expr("approx_percentile(price_numeric, 0.99)")).first()[0]
    clipped = priced.filter(F.col("price_numeric") <= F.lit(p99))
    charts: dict[str, DataFrame] = {
        "kpi_cards": analytics.kpi_summary(
            final,
            {"n_keywords": "search_keyword", "n_cities": "city"},
            "price_numeric",
            exact=False,
        ),
        "avg_price_by_keyword": analytics.top_means(
            by_keyword.filter((F.col("n_priced") > 0) & F.col("group_value").isNotNull())
            .select("group_value", avg_value),
            10,
        ),
        "top_cities": analytics.top_counts(by_city, 10),
        "keyword_share": analytics.share_of_counts(keyword_counts, 5),
        "city_index": analytics.top_counts(by_city, 1000),
        "count_avg_combo": analytics.top_counts(
            by_keyword.select("group_value", "cnt", avg_value), 8
        ),
        "treemap_top8": analytics.top_counts(keyword_counts, 8),
        "top10_price_cumulative": analytics.topk_cumulative(
            priced, "price_numeric", "product_name", k=10
        ),
        "price_histogram": analytics.fixed_histogram(
            clipped, "price_numeric", bin_width=5000.0, max_bin=40
        ),
    }
    if "dispid" in final.columns:
        charts["rating_price_scatter"] = clipped.filter(F.col("dispid") % 7 == 0).select(
            "dispid", "rating", "price_numeric"
        )
    return charts


def main() -> None:  # pragma: no cover - CLI shim
    import argparse

    from .session import get_spark

    parser = argparse.ArgumentParser(description="Spark ETL for IndiaMART-style scraped data")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", default="clean_data.csv")
    parser.add_argument("--no-sqlite", action="store_true")
    args = parser.parse_args()
    config = ETLConfig(
        input_file=args.input, output_csv=args.output, export_sqlite=not args.no_sqlite
    )
    run_pipeline(get_spark("b2b-etl"), config)


if __name__ == "__main__":  # pragma: no cover
    main()
