"""Chart-backing analytics operators.

Parity: reference ``analysis.py`` (the 10-chart aggregations) and the
``reports/*.csv`` EDA outputs. Every operator is a declarative
aggregation plan: map-side partial aggregation is free, top-k goes
through ``ORDER BY … LIMIT k`` (Spark plans TakeOrderedAndProject — no
global sort materialization), and group cardinalities here are small
(brands, priorities, nations) so the final reduce is trivial at any SF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import exact_avg, money_ints, round_half_up


def apply_filters(df: DataFrame, filters: dict[str, str | None]) -> DataFrame:
    """Dashboard-style interactive predicates (reference
    dashboard/webapp/views.py:40 ``apply_filters``): every chart/API
    query first narrows to the user's (state, keyword, …) selection.

    None values are "no filter" (the reference's absent query param).
    Predicates are DIRECT equality on standardized columns — a plain
    ``col = literal`` comparison Catalyst pushes into the parquet scan
    (visible as PushedFilters; at 100 TB, partition/row-group pruning
    is the difference between an interactive query and a full scan).
    The reference lowercases both sides (views.py:45,48) because its
    CSV is unstandardized; this engine standardizes upstream (etl
    parity), so canonical-cased equality is equivalent on engine
    outputs.
    """
    for col, val in filters.items():
        if val is not None:
            df = df.filter(F.col(col) == val)
    return df


def group_counts(df: DataFrame, group_col: str) -> DataFrame:
    """(group_value, cnt): rows per value of ``group_col``, NULL included."""
    return df.groupBy(F.col(group_col).alias("group_value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def top_counts(counts: DataFrame, n: int) -> DataFrame:
    """The ``n`` rows of a per-group frame with the largest ``cnt``,
    ties broken by the group value."""
    return counts.orderBy(F.col("cnt").desc(), F.col("group_value").asc()).limit(n)


def top_means(means: DataFrame, n: int) -> DataFrame:
    """The ``n`` rows of a per-group frame with the largest
    ``avg_value``, ties broken by the group value."""
    return means.orderBy(F.col("avg_value").desc(), F.col("group_value").asc()).limit(n)


def top_groups(df: DataFrame, group_col: str, n: int = 10) -> DataFrame:
    """Frequency top-N (analysis.py:277-296 bar chart, :433-456 treemap).

    Deterministic under ties via the group value as tiebreak.
    """
    return top_counts(group_counts(df, group_col), n)


def avg_by_group(df: DataFrame, group_col: str, value_col: str, n: int = 10) -> DataFrame:
    """Mean-by-group, top-N by mean desc (analysis.py:252-275 line
    chart). The mean is :func:`exact_avg` over integer cents — money
    columns are 2dp-exact, and a float ``avg`` there is summation-
    order sensitive exactly at the rounding boundaries small groups
    hit (the r10 session_stats flake class)."""
    return top_means(
        df.filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("group_value"))
        .agg(exact_avg(value_col, 2).alias("avg_value")),
        n,
    )


def share_top_n_others(df: DataFrame, group_col: str, n: int = 5) -> DataFrame:
    """Top-N share + "Others" residual (analysis.py:298-331 donut)."""
    return share_of_counts(group_counts(df, group_col), n)


def share_of_counts(counts: DataFrame, n: int) -> DataFrame:
    """:func:`share_top_n_others` over a (group_value, cnt) frame.

    The N winners are picked with sort+limit — Spark executes that as
    TakeOrderedAndProject (per-partition top-N, merge N·P rows), never
    a global sort — and membership rides back as a broadcast left join.
    The previous form (global ``row_number`` window over the counts)
    pushed the whole group-cardinality frame through one reducer; with
    a million distinct groups at 100 TB that is a needless serial
    stage. Tie behavior is identical: both orders are total
    (cnt DESC, group_value ASC).

    The remaining unpartitioned window computes the grand total over
    the relabelled aggregate — bounded at n+1 rows by construction, so
    a single-partition window is the cheapest correct plan there.
    """
    top = top_counts(counts, n).select(
        F.col("group_value").alias("__tg"), F.lit(True).alias("__top")
    )
    # null-safe membership join: a NULL group that ranks in the top N
    # must keep its (NULL) label exactly like the window form and the
    # SQL oracle's rn<=n CASE — a plain equi-join would never match
    # NULL and silently demote it to 'Others'
    labelled = (
        counts.join(
            F.broadcast(top),
            F.col("group_value").eqNullSafe(F.col("__tg")),
            "left",
        )
        .drop("__tg")
        .withColumn(
            "label",
            F.when(F.col("__top").isNotNull(), F.col("group_value")).otherwise(
                F.lit("Others")
            ),
        )
    )
    w_all = Window.partitionBy()
    return (
        labelled.groupBy("label")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("share_pct", round_half_up(F.col("cnt") * 100.0 / F.sum("cnt").over(w_all), 2))
        .select("label", F.col("cnt").cast("long").alias("cnt"), "share_pct")
    )


def fixed_histogram(df: DataFrame, col: str, bin_width: float, max_bin: int) -> DataFrame:
    """Fixed-width histogram (analysis.py:333-355).

    Fixed bounds (not data-dependent) keep binning a pure map-side
    expression — exactly reproducible across engines and requiring a
    single tiny shuffle on the bin id.
    """
    bin_id = F.least(F.floor(F.col(col) / F.lit(bin_width)), F.lit(max_bin)).cast("long")
    return (
        df.filter(F.col(col).isNotNull())
        .withColumn("bin_id", bin_id)
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bin_low", round_half_up(F.col("bin_id") * bin_width, 2))
        .select("bin_id", "bin_low", "cnt")
    )


def count_avg_combo(df: DataFrame, group_col: str, value_col: str, n: int = 8) -> DataFrame:
    """Per-group count + avg, top-N by count (analysis.py:390-431 combo)."""
    return top_counts(
        df.groupBy(F.col(group_col).alias("group_value")).agg(
            F.count(F.lit(1)).alias("cnt"),
            exact_avg(value_col, 2).alias("avg_value"),
        ),
        n,
    )


def topk_cumulative(df: DataFrame, value_col: str, key_col: str, k: int = 10) -> DataFrame:
    """Top-k by value + running cumulative sum (analysis.py:458-495).

    The limit-k happens FIRST (TakeOrderedAndProject), then the window
    runs over k rows only — the global window never sees the full table.
    """
    top = df.orderBy(F.col(value_col).desc(), F.col(key_col).asc()).limit(k)
    w = (
        Window.orderBy(F.col(value_col).desc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return top.select(
        F.col(key_col).alias("item_key"),
        round_half_up(F.col(value_col), 2).alias("value"),
        round_half_up(F.sum(value_col).over(w), 2).alias("cumulative"),
    )


def missing_pct_by_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """NULL-percentage of ``value_col`` per group
    (reports/missing_price_by_keyword.csv)."""
    return (
        df.groupBy(F.col(group_col).alias("group_value"))
        .agg(
            round_half_up(
                F.avg(F.when(F.col(value_col).isNull(), 1.0).otherwise(0.0)) * 100.0, 2
            ).alias("missing_pct"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def kpi_summary(
    df: DataFrame, distincts: dict[str, str], value_col: str, exact: bool = True
) -> DataFrame:
    """Single-row KPI scorecard (analysis.py:205-250,
    reports/summary_stats.csv): count, distinct counts, exact median,
    avg/min/max, missing pct.

    ``exact=True`` is the oracle-parity mode; ``exact=False`` is the
    100 TB path — t-digest median (``approx_percentile``) and HLL++
    distinct counts, both single-pass and mergeable map-side.
    """
    uq = F.countDistinct if exact else F.approx_count_distinct
    median = (
        F.expr(f"percentile({value_col}, 0.5)")
        if exact
        else F.expr(f"approx_percentile({value_col}, 0.5)")
    )
    aggs: list[Column] = [F.count(F.lit(1)).alias("total_rows")]
    for alias, c in distincts.items():
        aggs.append(uq(F.col(c)).alias(alias))
    aggs += [
        round_half_up(median, 2).alias("median_value"),
        exact_avg(value_col, 2).alias("avg_value"),
        round_half_up(F.min(value_col), 2).alias("min_value"),
        round_half_up(F.max(value_col), 2).alias("max_value"),
        round_half_up(
            F.avg(F.when(F.col(value_col).isNull(), 1.0).otherwise(0.0)) * 100.0, 2
        ).alias("missing_value_pct"),
    ]
    return df.agg(*aggs)


def array_pairs(
    df: DataFrame, array_col: str, a_name: str, b_name: str
) -> DataFrame:
    """C(n,2) ordered pairs from a SORTED array column, expanded
    in-plan (nested transform + flatten + explode — one projection, no
    self-join): the shared kernel of the market-basket keys
    (part_copurchase / part_basket_lift) and the audience-overlap key
    (events_user_type_overlap). Sorting upstream makes (a < b)
    canonical, so pair counts never double-count orientation; output
    rows = Σ C(len, 2) over input rows.
    """
    expr = f"""
        flatten(transform({array_col}, (x, i) ->
          transform(slice({array_col}, i + 2, size({array_col})),
                    y -> named_struct('{a_name}', x, '{b_name}', y))))
        """
    return df.select(F.explode(F.expr(expr)).alias("__pr")).select(
        F.col(f"__pr.{a_name}").alias(a_name),
        F.col(f"__pr.{b_name}").alias(b_name),
    )


#: Poisson(1) inverse-CDF thresholds (cumulative pmf), k = 0..6 — the
#: per-row replicate weights of the Poisson bootstrap. P(k>6) ≈ 8e-5
#: truncates to 6; the bias is far below bootstrap noise at any B.
_POISSON1_CDF = (
    (0.36787944, 0),
    (0.73575888, 1),
    (0.91969860, 2),
    (0.98101184, 3),
    (0.99634015, 4),
    (0.99940582, 5),
)


def poisson_cdf_hex(cdf: float) -> str:
    """8-hex-char threshold for an md5-prefix uniform draw: a key
    string ≤ this literal ⇔ the uniform ≤ cdf (to 1/16^8). Shared by
    the Spark expression AND the DuckDB oracle so both engines
    compare the same literals.

    Clamped to 16^8 - 1: cdf >= 1.0 would format as the 9-char
    '100000000', which compares lexicographically GREATER than any
    8-char key ('f' > '1') — a threshold meant to always match would
    almost never match. (Dormant with the truncated _POISSON1_CDF
    table, but a trap for anyone extending it toward 1.0.)"""
    if not 0.0 <= cdf:
        raise ValueError(f"cdf must be >= 0, got {cdf}")
    return format(min(int(cdf * 16**8), 16**8 - 1), "08x")


def poisson_bootstrap_lift(
    user_values: DataFrame,
    n_reps: int = 100,
    value_col: str = "user_value",
    variant_col: str = "variant",
    id_col: str = "user_id",
) -> DataFrame:
    """Bootstrap CI for a between-variant mean lift via the POISSON
    bootstrap — the industrial resampling scheme for data too large to
    resample by shuffling: instead of materializing B resamples, every
    (row, replicate) gets an independent Poisson(1) weight, which for
    large n is exactly multinomial resampling's marginal. One explode
    (×B) over the already-aggregated USER grain, one (replicate,
    variant) weighted-mean aggregate, and a percentile over B tiny
    rows — no data movement scales with B except the user-grain fanout.

    Weights are DETERMINISTIC and ENGINE-PORTABLE: the uniform draw is
    the first 8 hex chars of ``md5(id:replicate)`` compared as a STRING
    against precomputed hex thresholds of the Poisson(1) inverse CDF
    (truncated at 6, P≈8e-5) — re-runs, retries, and repartitionings
    see identical resamples (the stratified_sample md5-threshold
    argument; rand() is none of those things), and because the
    thresholds are literals, DuckDB evaluates the *identical*
    expression — which is what lets events_ab_bootstrap carry a
    value-level oracle instead of the xxhash64 scheme's rows-only
    check (r8: xxhash64 exists only in Spark).

    Output: one row (n_reps, point_lift 4dp, ci_lo 4dp, ci_hi 4dp) —
    the 2.5/97.5 bootstrap percentiles of (mean₁ − mean₀).
    """
    reps = user_values.select(
        variant_col,
        value_col,
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_reps - 1))).alias("__rep"),
    )
    key = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.col(id_col).cast("string"),
                F.col("__rep").cast("string"),
            )
        ),
        1,
        8,
    )
    w = F.lit(6)
    for cdf, k in reversed(_POISSON1_CDF):
        w = F.when(key <= poisson_cdf_hex(cdf), k).otherwise(w)
    per_rv = (
        reps.withColumn("__w", w)
        .groupBy("__rep", variant_col)
        .agg(
            # exact cents: integer weighted sum (order-independent),
            # ONE float division — the weighted mean of 2dp user
            # values lies on a lattice commensurate with the 4dp
            # output rounding, so a float sum here is the boundary-
            # canary flake class (tests/test_sum_boundary_canary.py)
            (
                F.sum(F.col("__w") * money_ints(value_col)).cast("double")
                / (F.sum("__w") * F.lit(100.0))
            ).alias("__m")
        )
    )
    lifts = per_rv.groupBy("__rep").agg(
        (
            F.max(F.when(F.col(variant_col) == 1, F.col("__m")))
            - F.max(F.when(F.col(variant_col) == 0, F.col("__m")))
        ).alias("__lift")
    )
    point = user_values.groupBy(variant_col).agg(
        (
            F.sum(money_ints(value_col)).cast("double")
            / (F.count(F.lit(1)) * F.lit(100.0))
        ).alias("__m")
    ).agg(
        (
            F.max(F.when(F.col(variant_col) == 1, F.col("__m")))
            - F.max(F.when(F.col(variant_col) == 0, F.col("__m")))
        ).alias("__point")
    )
    ci = lifts.agg(
        F.expr("percentile(__lift, 0.025)").alias("__lo"),
        F.expr("percentile(__lift, 0.975)").alias("__hi"),
    )
    return ci.join(F.broadcast(point)).select(
        F.lit(n_reps).cast("int").alias("n_reps"),
        round_half_up(F.col("__point"), 4).alias("point_lift"),
        round_half_up(F.col("__lo"), 4).alias("ci_lo"),
        round_half_up(F.col("__hi"), 4).alias("ci_hi"),
    )


def ols_two_feature(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    y_scale: int = 2,
    x1_scale: int = 0,
    x2_scale: int = 2,
) -> DataFrame:
    """Two-feature OLS (`y ≈ β0 + β1·x1 + β2·x2`) fit distributively
    via SUFFICIENT STATISTICS — the map-reduce formulation of linear
    regression: one combining aggregate collects the ten normal-
    equation moments (n, Σx, Σy, Σxx, Σxy, …) and the 2×2 centered
    system is solved in closed form (Cramer) on the 1-row result. No
    iteration, no driver-side data movement — the classic "ML as an
    aggregate" pattern that scales to any row count at one shuffle-free
    pass (partial aggregation is map-side; the final reduce is 10
    numbers).

    Exactness: inputs are decimal-quantized doubles recovered to
    BIGINTs (``money_ints`` at the stated scales); every second-moment
    product is widened to decimal(38,0) BEFORE summing so the moments
    are exact integers in any summation order and both engines. The
    closed-form solve then runs in doubles with one fixed expression
    tree — deterministic because every input double is the cast of the
    same exact integer.

    Output (1 row): n_rows, beta_x1, beta_x2, intercept (4dp),
    r2 (6dp).
    """
    c1 = money_ints(x1_col, x1_scale)
    c2 = money_ints(x2_col, x2_scale)
    cy = money_ints(y_col, y_scale)

    def _wide(a: Column, b: Column) -> Column:
        return (a.cast("decimal(19,0)") * b.cast("decimal(19,0)")).cast(
            "decimal(38,0)"
        )

    m = df.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(c1.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(c2.cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum(cy.cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(_wide(c1, c1)).cast("double").alias("s11"),
        F.sum(_wide(c1, c2)).cast("double").alias("s12"),
        F.sum(_wide(c2, c2)).cast("double").alias("s22"),
        F.sum(_wide(c1, cy)).cast("double").alias("s1y"),
        F.sum(_wide(c2, cy)).cast("double").alias("s2y"),
        F.sum(_wide(cy, cy)).cast("double").alias("syy"),
    )
    k1 = float(10**x1_scale)
    k2 = float(10**x2_scale)
    ky = float(10**y_scale)
    n = F.col("n")
    a11 = (F.col("s11") - F.col("s1") * F.col("s1") / n) / F.lit(k1 * k1)
    a12 = (F.col("s12") - F.col("s1") * F.col("s2") / n) / F.lit(k1 * k2)
    a22 = (F.col("s22") - F.col("s2") * F.col("s2") / n) / F.lit(k2 * k2)
    b1 = (F.col("s1y") - F.col("s1") * F.col("sy") / n) / F.lit(k1 * ky)
    b2 = (F.col("s2y") - F.col("s2") * F.col("sy") / n) / F.lit(k2 * ky)
    tss = (F.col("syy") - F.col("sy") * F.col("sy") / n) / F.lit(ky * ky)
    det = a11 * a22 - a12 * a12
    beta1 = (b1 * a22 - b2 * a12) / det
    beta2 = (a11 * b2 - a12 * b1) / det
    beta0 = (
        F.col("sy") / (F.lit(ky) * n)
        - beta1 * (F.col("s1") / (F.lit(k1) * n))
        - beta2 * (F.col("s2") / (F.lit(k2) * n))
    )
    r2 = (beta1 * b1 + beta2 * b2) / tss
    return m.select(
        F.col("n").cast("long").alias("n_rows"),
        round_half_up(beta1, 4).alias("beta_x1"),
        round_half_up(beta2, 4).alias("beta_x2"),
        round_half_up(beta0, 4).alias("intercept"),
        round_half_up(r2, 6).alias("r2"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test between two groups of
    an INTEGER-valued column: D = max over values of |F_a(v) − F_b(v)|
    plus the asymptotic p-value (Numerical-Recipes small-sample
    correction on the effective n).

    Scale shape: the statistic needs both empirical CDFs on the merged
    value grid — per-value conditional counts (ONE shuffle on the
    value, map-side combine collapses the row grain to the
    distinct-value grain) and two distributed prefix scans
    (ranking.global_cumsum; no single-reducer window at any
    cardinality). D is maximized on exact cross-multiplied integers
    (|cum_a·n_b − cum_b·n_a|, decimal-widened) so the max and the
    final single division are engine/partitioning independent.

    Output (1 row): group_a, group_b, n_a, n_b, ks_d (6dp),
    p_value (6dp).
    """
    from . import caching
    from .ranking import global_cumsum

    f = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("long").alias("v"),
        (F.col(group_col) == group_a).alias("isa"),
    )
    per_v = caching.persist_tracked(
        f.groupBy("v").agg(
            F.sum(F.when(F.col("isa"), 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(~F.col("isa"), 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    tot = per_v.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    cum = global_cumsum(per_v, [F.col("v").asc()], "ca", "cuma")
    cum = global_cumsum(cum, [F.col("v").asc()], "cb", "cumb")
    dmax = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.col("cuma").cast("decimal(19,0)") * F.col("nb")
                - F.col("cumb").cast("decimal(19,0)") * F.col("na")
            )
            .cast("decimal(38,0)")
            .alias("dnum")
        )
        .agg(F.max("dnum").alias("dmax"))
    )
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    d = F.col("dmax").cast("double") / (nad * nbd)
    ne = nad * nbd / (nad + nbd)
    lam = (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)) * d
    l2 = lam * lam
    p = F.lit(2.0) * (
        F.exp(F.lit(-2.0) * l2)
        - F.exp(F.lit(-8.0) * l2)
        + F.exp(F.lit(-18.0) * l2)
        - F.exp(F.lit(-32.0) * l2)
        + F.exp(F.lit(-50.0) * l2)
    )
    return (
        tot.crossJoin(F.broadcast(dmax))
        .select(
            F.lit(group_a).alias("group_a"),
            F.lit(group_b).alias("group_b"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            round_half_up(d, 6).alias("ks_d"),
            round_half_up(
                F.greatest(F.lit(0.0), F.least(F.lit(1.0), p)), 6
            ).alias("p_value"),
        )
    )


def forecast_backtest_monthly(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
) -> DataFrame:
    """Backtest of the two standard forecasting BASELINES on the
    monthly revenue series — naive (last month's value) and
    seasonal-naive (same month last year) — reporting MAE, SMAPE and
    mean bias per model. This is the forecast-EVALUATION operator
    (any model that can't beat seasonal-naive on a backtest shouldn't
    ship); it complements the trend-fit keys (nation_revenue_trend,
    q6_forecast_revenue) with the accounting they must clear.

    Scale shape: the series is pre-aggregated to the month grain
    (exact integer cents), lags are EQUI-joins on the month index
    (idx = y·12+m; idx−1 / idx−12) — calendar-true under gaps, no
    windows of any kind. Error terms are exact integer cents; SMAPE
    terms are 1e-6-quantized before the cross-month sum (exact in any
    order).

    Output (2 rows): model, n_months, mae (2dp), smape (6dp),
    bias (2dp).
    """
    from ..functions.rounding import money_ints, round_half_up

    monthly = (
        orders.groupBy(
            (F.year(date_col) * 12 + F.month(date_col) - 1).alias("idx")
        )
        .agg(F.sum(money_ints(value_col, 2)).alias("rev"))
    )
    from . import caching

    monthly = caching.persist_tracked(monthly)

    def _eval(lag: int, name: str) -> DataFrame:
        f = monthly.select(
            (F.col("idx") + lag).alias("idx"), F.col("rev").alias("fc")
        )
        j = monthly.join(f, "idx").select(
            F.lit(name).alias("model"),
            F.abs(F.col("fc") - F.col("rev")).alias("abs_err"),
            (F.col("fc") - F.col("rev")).alias("err"),
            money_ints(
                F.lit(2.0)
                * F.abs(F.col("fc") - F.col("rev")).cast("double")
                / (F.abs(F.col("fc")) + F.abs(F.col("rev"))).cast("double"),
                6,
            ).alias("smape_micro"),
        )
        return j.groupBy("model").agg(
            F.count(F.lit(1)).cast("long").alias("n_months"),
            round_half_up(
                F.sum("abs_err") / F.count(F.lit(1)) / F.lit(100.0), 2
            ).alias("mae"),
            round_half_up(
                F.sum("smape_micro") / F.count(F.lit(1)) / F.lit(1000000.0),
                6,
            ).alias("smape"),
            round_half_up(
                F.sum("err") / F.count(F.lit(1)) / F.lit(100.0), 2
            ).alias("bias"),
        )

    return _eval(1, "naive").unionByName(_eval(12, "seasonal_naive"))


def funnel_wilson(events: DataFrame, z: float = 1.96) -> DataFrame:
    """Per-step funnel conversion rates WITH Wilson 95% score
    intervals — the uncertainty-aware readout of events_user_funnel
    (a 3%-vs-4% step difference means nothing without the interval;
    Wilson stays valid near 0/1 where the Wald interval collapses).

    Same scale shape as the funnel itself: one user-grain conditional
    first-occurrence aggregate, a single-row reduce, and the interval
    arithmetic as fixed closed-form expressions on exact counts — the
    2-row output is assembled from one broadcast-sized frame.

    Output (2 rows): step, n_prev, n_conv, rate (6dp), ci_low (6dp),
    ci_high (6dp).
    """
    from ..functions.rounding import round_half_up

    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("t_view"),
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("t_click"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_buy"),
    )
    clicked = (F.col("t_click") > F.col("t_view")).cast("long")
    bought = (
        (F.col("t_click") > F.col("t_view"))
        & (F.col("t_buy") > F.col("t_click"))
    ).cast("long")
    agg = per_user.agg(
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_view"),
        F.sum(F.coalesce(clicked, F.lit(0))).cast("long").alias("n_click"),
        F.sum(F.coalesce(bought, F.lit(0))).cast("long").alias("n_buy"),
    )

    def _step(name: str, prev_c: str, conv_c: str) -> DataFrame:
        # NULL-out a zero denominator explicitly: non-ANSI Spark would
        # give NULL for x/0 but DuckDB's IEEE double division gives
        # inf/NaN — the guard (NULLIF in the oracle) makes BOTH
        # engines serve NULL rate on an empty previous step
        nprev = F.when(F.col(prev_c) > 0, F.col(prev_c).cast("double"))
        p = F.col(conv_c).cast("double") / nprev
        # z² as lit(z)*lit(z), NOT a Python-precomputed literal: the
        # decimal spelling of z*z can parse to a double 1 ulp away
        # from the IEEE product, and the oracle must square the same
        # literal the same way
        z2 = F.lit(z) * F.lit(z)
        denom = F.lit(1.0) + z2 / nprev
        center = (p + z2 / (F.lit(2.0) * nprev)) / denom
        half = (
            F.lit(z)
            * F.sqrt(
                p * (F.lit(1.0) - p) / nprev
                + z2 / (F.lit(4.0) * nprev * nprev)
            )
            / denom
        )
        return agg.select(
            F.lit(name).alias("step"),
            F.col(prev_c).alias("n_prev"),
            F.col(conv_c).alias("n_conv"),
            round_half_up(p, 6).alias("rate"),
            round_half_up(
                F.greatest(F.lit(0.0), center - half), 6
            ).alias("ci_low"),
            round_half_up(
                F.least(F.lit(1.0), center + half), 6
            ).alias("ci_high"),
        )

    return _step("view_to_click", "n_view", "n_click").unionByName(
        _step("click_to_purchase", "n_click", "n_buy")
    )
