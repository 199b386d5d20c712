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
    case) — one projection, no per-column passes."""
    df = cleaning.standardize_strings(df)
    specials = {
        "search_keyword": normalize_keyword,
        "city": normalize_place,
        "state": normalize_place,
        "supplier_name": lambda c: F.initcap(c),
    }
    for col, fn in specials.items():
        if col in df.columns:
            df = df.withColumn(col, fn(F.col(col)))
    return df


def fix_types_and_features(df: DataFrame, config: ETLConfig) -> DataFrame:
    """etl.py:277-313: price parse, numeric coercions, phone→hash,
    winsorize, bucket, region — all Catalyst projections except the
    winsorize quantiles (one tiny broadcast of the bounds row)."""
    if "price" in df.columns:
        df = df.withColumn("price_numeric", parse_price_number(F.col("price")))
        df = df.withColumn("price_unit", parse_price_unit(F.col("price")))
    else:
        df = df.withColumn("price_numeric", F.lit(None).cast("double"))
        df = df.withColumn("price_unit", F.lit(None).cast("string"))

    for col in ["rating", "catid", "mcatid", "itemid", "dispid"]:
        if col in df.columns:
            df = df.withColumn(col, F.col(col).cast("double"))

    if "phone" in df.columns:
        if config.keep_phone_hash:
            df = df.withColumn("phone_hash", salted_sha256(digits_only(F.col("phone"))))
        df = df.drop("phone")

    # etl.py:303-306: winsorize only when ≥10 non-null prices exist —
    # the count is a single cheap action, same gate as the reference.
    # The bounds are t-digest approx_percentile, the single-pass
    # mergeable path; the oracle-gated ``winsorize_price`` registry key
    # requests the exact percentile itself.
    if config.winsorize_price and df.filter(F.col("price_numeric").isNotNull()).limit(10).count() >= 10:
        df = outliers.winsorize(
            df,
            "price_numeric",
            out_col="price_numeric_winsor",
            exact=False,
        )
    else:
        df = df.withColumn("price_numeric_winsor", F.col("price_numeric"))

    df = df.withColumn("price_bucket", price_bucket(F.col("price_numeric_winsor")))
    state_col = F.col("state") if "state" in df.columns else F.lit(None).cast("string")
    return df.withColumn("supplier_region", state_to_region(state_col))


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

    Two eager ``localCheckpoint`` calls materialize the lineage once: the
    typed frame (where issues and dedup split) and ``final`` (read by the
    profile, the sinks and every ``analyze`` chart). Unlike ``persist``,
    it truncates the plan and leaves no cache entry: the blocks live as
    long as the returned frames, are freed by Spark's ContextCleaner, and
    ``caching.release_cached`` never drops them."""
    df = read_csv_normalized(spark, config.input_file)
    df = standardize_fields(df)
    df = fix_types_and_features(df, config).localCheckpoint()

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
    curated listing table — one lazy DataFrame per chart, all built
    from the generic ``operators.analytics`` plans.

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

    priced = final.filter(F.col("price_numeric").isNotNull())
    charts: dict[str, DataFrame] = {
        "kpi_cards": analytics.kpi_summary(
            final,
            {"n_keywords": "search_keyword", "n_cities": "city"},
            "price_numeric",
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
    }
    thr = priced.agg(F.expr("approx_percentile(price_numeric, 0.99)").alias("p99"))
    clipped = priced.crossJoin(F.broadcast(thr)).filter(F.col("price_numeric") <= F.col("p99"))
    charts["price_histogram"] = analytics.fixed_histogram(
        clipped, "price_numeric", bin_width=5000.0, max_bin=40
    )
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
