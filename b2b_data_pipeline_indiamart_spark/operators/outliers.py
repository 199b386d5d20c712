"""Outlier handling: IQR winsorization.

Parity: reference ``etl.py`` ``iqr_bounds``/``winsorize_series``
(etl.py:210-222).

Scale notes
-----------
``winsorize`` needs global quantiles. Two modes:

- ``exact=True`` — Spark SQL ``percentile`` (sort-based exact with
  linear interpolation, identical definition to DuckDB
  ``quantile_cont``). Used for oracle parity at test SFs.
- ``exact=False`` — ``approx_percentile`` (t-digest, single pass,
  mergeable) — the 100 TB path: no global sort, bounded memory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantiles(df: DataFrame, col: str, probs: Sequence[float], exact: bool = True):
    """Return a 1-row DataFrame of the requested quantiles (q_0, q_1, …)."""
    fn = "percentile" if exact else "approx_percentile"
    aggs = [
        F.expr(f"{fn}({col}, {p})").alias(f"q_{i}") for i, p in enumerate(probs)
    ]
    return df.agg(*aggs)


def iqr_bounds(q1: Column, q3: Column) -> tuple[Column, Column]:
    """The Tukey fences [q1 - 1.5*IQR, q3 + 1.5*IQR] (etl.py:210-216)."""
    return q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)


def clip(col: str, lo: Column, hi: Column) -> Column:
    """``col`` clipped to [lo, hi], NULL and NaN passed through.

    pandas clip propagates both NULL and NaN; Spark's greatest/least
    skip NULLs and order NaN as the LARGEST double (it would clip to
    ``hi``), so both are guarded.
    """
    return F.when(
        F.col(col).isNotNull() & ~F.isnan(F.col(col).cast("double")),
        F.least(F.greatest(F.col(col), lo), hi),
    ).otherwise(F.col(col))


def winsorize(df: DataFrame, col: str, out_col: str | None = None, exact: bool = True) -> DataFrame:
    """Clip ``col`` to [q1 - 1.5*IQR, q3 + 1.5*IQR] (etl.py:210-222).

    The 1-row bounds frame is broadcast-crossjoined — no shuffle of the
    fact side, the clip is a map-side projection.
    """
    out_col = out_col or f"{col}_winsor"
    lo, hi = iqr_bounds(F.col("q_0"), F.col("q_1"))
    bounds = quantiles(df, col, (0.25, 0.75), exact=exact).select(
        lo.alias("__lo"), hi.alias("__hi")
    )
    joined = df.crossJoin(F.broadcast(bounds))
    return joined.withColumn(out_col, clip(col, F.col("__lo"), F.col("__hi"))).drop(
        "__lo", "__hi"
    )
