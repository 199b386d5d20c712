"""Column profiling operator.

Parity: reference ``etl.py`` ``build_profile_report`` (etl.py:379-400):
per-column rows / non-null / nulls / null-pct / distinct. The reference
loops columns in pandas; here ALL per-column aggregates are computed in
ONE pass over the data (a single aggregate projection), then unpivoted
into the row-per-column report shape. One job, no per-column scans —
at 100 TB this is the difference between 1 scan and N scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import round_half_up


def profile_report(df: DataFrame) -> DataFrame:
    """n_rows/non_null/nulls/null_pct/distinct per column, one scan;
    the distinct counts are exact.

    Both wide projections are SQL text, one call each, as
    ``dedup.minhash_signatures`` does: PySpark records a call site per
    Column-API call, and this builder made ~10 per column. The text
    plans as the Column form did: ``100.0D`` keeps the percentage a
    DOUBLE (a bare ``100.0`` is a DECIMAL literal), and the last
    division is ``round_half_up`` spelled out."""
    aggs = ["count(1) AS __rows"]
    stacks = []
    for c in df.columns:
        nn, uq = f"`__nn_{c}`", f"`__uq_{c}`"
        aggs += [f"count(`{c}`) AS {nn}", f"count(DISTINCT `{c}`) AS {uq}"]
        nulls = f"(__rows - {nn})"
        stacks.append(
            f"struct('{c}' AS column, __rows AS n_rows, {nn} AS non_null, {nulls} AS nulls, "
            f"FLOOR({nulls} * 100.0D / __rows * 100.0D + 0.5D) / 100.0D AS null_pct, "
            f"{uq} AS distinct_values)"
        )
    return (
        df.agg(*[F.expr(a) for a in aggs])
        .selectExpr(f"explode(array({', '.join(stacks)})) AS p")
        .select("p.column", "p.n_rows", "p.non_null", "p.nulls", "p.null_pct", "p.distinct_values")
    )


def observe_quality(
    df: DataFrame,
    name: str = "quality",
    numeric_col: str | None = None,
    required_cols: "list[str] | None" = None,
):
    """Attach free pipeline metrics to a plan via Spark's Observation
    API: row count, per-required-column null counts, and (optionally)
    a numeric column's sum/min/max are computed AS A SIDE EFFECT of
    whatever action the caller runs next — zero extra scans, zero
    extra jobs, exactly the metrics a production pipeline wants on
    every write without paying for a second pass.

    Returns ``(observed_df, observation)``; read
    ``observation.get`` AFTER an action on ``observed_df`` has
    completed. At 100 TB this is the difference between "metrics are
    free" and "metrics double the pipeline" — the aggregates ride the
    same tasks as the real work (internally an
    ``CollectMetrics`` node, mergeable per-partition accumulators).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in required_cols or []:
        metrics.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_null_{c}")
        )
    if numeric_col is not None:
        metrics.extend(
            [
                F.sum(numeric_col).alias(f"sum_{numeric_col}"),
                F.min(numeric_col).alias(f"min_{numeric_col}"),
                F.max(numeric_col).alias(f"max_{numeric_col}"),
            ]
        )
    return df.observe(obs, *metrics), obs


def expectations(
    df: DataFrame,
    rules: "list[tuple]",
    ref_tables: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Declarative data-quality constraint validation (the Deequ /
    Great-Expectations shape): evaluate a rule list against a frame in
    as few passes as the rule kinds allow and emit a tall report —
    one row per rule: (rule, n_violations, passed).

    Rule forms (name is the report key):
      ("name", "not_null", col)
      ("name", "positive", col)              # violations: col <= 0 or NULL
      ("name", "range", col, lo, hi)         # inclusive bounds
      ("name", "in_set", col, [values...])
      ("name", "unique", [cols...])          # duplicate ROWS beyond the
                                             # first occurrence count
      ("name", "fk", [cols...], "ref", [ref_cols...])  # orphaned rows;
                                             # ref resolved via ref_tables

    Scale shape: every ROW-LEVEL rule (not_null / positive / range /
    in_set) folds into ONE conditional-sum aggregate over a single
    scan. `unique` adds one groupBy on its key (count − distinct via
    sum(cnt−1) with map-side combine); each `fk` adds one LEFT ANTI
    against the (distinct-collapsed, usually broadcastable) reference
    keys. The report itself is rule-count rows — driver-scale by
    construction, like profile_report.

    NULL semantics: not_null counts NULLs (obviously); positive /
    range / in_set count NULL as a violation only when the rule says
    the column must also be present — they do NOT (a NULL is neither
    in nor out of a range; compose with a not_null rule to forbid it).
    `positive` is the exception by definition: it demands an actual
    positive value, so NULL violates.
    """
    ref_tables = ref_tables or {}
    # rule names key the report AND the single-pass aggregate's column
    # aliases: a duplicate would build two identically-named aggregate
    # columns, and the explode's F.col(name) would then die with an
    # ambiguous-reference AnalysisException (or, for unique/fk rules,
    # silently emit duplicate report keys). Fail clearly up front.
    seen: set = set()
    for rule in rules:
        if rule[0] in seen:
            raise ValueError(
                f"expectations: duplicate rule name {rule[0]!r} — report "
                "keys must be unique"
            )
        seen.add(rule[0])
    row_exprs = []
    tall: list[DataFrame] = []
    spark = df.sparkSession
    for rule in rules:
        name, kind = rule[0], rule[1]
        if kind == "not_null":
            cond = F.col(rule[2]).isNull()
        elif kind == "positive":
            cond = F.col(rule[2]).isNull() | (F.col(rule[2]) <= 0)
        elif kind == "range":
            c, lo, hi = rule[2], rule[3], rule[4]
            cond = F.col(c).isNotNull() & (
                (F.col(c) < F.lit(lo)) | (F.col(c) > F.lit(hi))
            )
        elif kind == "in_set":
            c, vals = rule[2], rule[3]
            cond = F.col(c).isNotNull() & ~F.col(c).isin(list(vals))
        elif kind == "unique":
            cols = list(rule[2])
            dup = (
                df.groupBy(*cols)
                .agg(F.count(F.lit(1)).alias("__c"))
                .agg(
                    F.coalesce(F.sum(F.col("__c") - 1), F.lit(0))
                    .cast("long")
                    .alias("n_violations")
                )
                .select(
                    F.lit(name).alias("rule"),
                    "n_violations",
                    (F.col("n_violations") == 0).alias("passed"),
                )
            )
            tall.append(dup)
            continue
        elif kind == "fk":
            cols, ref_name, ref_cols = list(rule[2]), rule[3], list(rule[4])
            # no forced broadcast: a dimension at warehouse scale would
            # OOM the driver under an unconditional hint — the plain
            # LEFT ANTI lets AQE broadcast exactly when the distinct
            # key set is actually small
            ref = ref_tables[ref_name].select(
                *[F.col(rc).alias(c) for c, rc in zip(cols, ref_cols)]
            ).distinct()
            # SQL FK semantics: a NULL key states NO relation and does
            # not violate (compose with not_null to forbid it); only
            # fully-present keys can be orphans
            present = None
            for c in cols:
                p = F.col(c).isNotNull()
                present = p if present is None else (present & p)
            orphans = (
                df.filter(present)
                .select(*cols)
                .join(ref, cols, "left_anti")
                .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
                .select(
                    F.lit(name).alias("rule"),
                    "n_violations",
                    (F.col("n_violations") == 0).alias("passed"),
                )
            )
            tall.append(orphans)
            continue
        else:
            raise ValueError(f"expectations: unknown rule kind {kind!r}")
        row_exprs.append(
            # coalesce: F.sum over an EMPTY frame is NULL, and a clean-
            # but-empty partition must report (0, passed=True), not
            # (None, None) — same guard the unique branch carries
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(name)
        )
    if row_exprs:
        wide = df.agg(*row_exprs)
        names = [e for e in wide.columns]
        row_report = wide.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(nm).alias("rule"),
                            F.col(nm).alias("n_violations"),
                        )
                        for nm in names
                    ]
                )
            ).alias("r")
        ).select(
            "r.rule",
            "r.n_violations",
            (F.col("r.n_violations") == 0).alias("passed"),
        )
        tall.insert(0, row_report)
    if not tall:
        return spark.createDataFrame(
            [], "rule string, n_violations long, passed boolean"
        )
    out = tall[0]
    for t in tall[1:]:
        out = out.unionByName(t)
    return out


def psi_drift(
    df: DataFrame,
    value_col: str,
    period_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    period of a numeric column — the standard ML-ops distribution-
    drift monitor (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted).

    ``period_col`` must hold exactly the labels 'ref' / 'cur'. Bin
    edges are the reference period's exact interpolated ``n_bins``-iles
    ROUNDED to 2dp before any cut (the price_percentile_bands
    discipline: a last-ulp percentile disagreement can never move a
    row across a bin edge). Shares are Laplace-smoothed
    (+0.5 per bin) so an empty bin contributes a finite term.

    Scale shape: edges are one combining aggregate broadcast back as a
    1-row frame (the 100 TB swap is approx_percentile — same plan
    shape); the bin assignment is a map-side expression (sum of edge
    comparisons); counts shuffle once on the ≤``n_bins`` bin key. The
    cross-bin PSI total sums 1e-6-scaled integers of the rounded
    per-bin terms (exact in any order) — never raw doubles.

    Output (≤ n_bins rows): bin (1-based), ref_count, cur_count,
    p_ref/p_cur (6dp), psi_contrib (6dp), psi_total (6dp, repeated).
    """
    qs = [round(i / n_bins, 6) for i in range(1, n_bins)]
    edges = df.filter(F.col(period_col) == "ref").agg(
        *[
            round_half_up(
                F.expr(f"percentile({value_col}, {q})"), 2
            ).alias(f"e{i}")
            for i, q in enumerate(qs, start=1)
        ]
    )
    bin_expr = F.lit(1)
    for i in range(1, n_bins):
        bin_expr = bin_expr + F.when(
            F.col(value_col) > F.col(f"e{i}"), 1
        ).otherwise(0)
    binned = df.crossJoin(F.broadcast(edges)).select(
        F.col(period_col).alias("p"), bin_expr.cast("int").alias("bin")
    )
    from . import caching

    # ≤ n_bins rows, but its lineage is a full scan: persist so the
    # totals pass and the scoring pass reuse one materialization
    counts = caching.persist_tracked(
        binned.groupBy("bin").agg(
            F.sum(F.when(F.col("p") == "ref", 1).otherwise(0))
            .cast("long")
            .alias("ref_count"),
            F.sum(F.when(F.col("p") == "cur", 1).otherwise(0))
            .cast("long")
            .alias("cur_count"),
        )
    )
    tot = counts.agg(
        F.sum("ref_count").alias("nr"), F.sum("cur_count").alias("nc")
    )
    half_bins = 0.5 * n_bins
    scored = counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "ref_count",
        "cur_count",
        (
            (F.col("ref_count") + F.lit(0.5))
            / (F.col("nr") + F.lit(half_bins))
        ).alias("pr"),
        (
            (F.col("cur_count") + F.lit(0.5))
            / (F.col("nc") + F.lit(half_bins))
        ).alias("pc"),
    )
    from ..functions.rounding import money_ints

    scored = scored.withColumn(
        "contrib_micro",
        money_ints(
            (F.col("pc") - F.col("pr")) * F.log(F.col("pc") / F.col("pr")),
            6,
        ),
    )
    total = scored.agg(F.sum("contrib_micro").alias("tot_micro"))
    return (
        scored.crossJoin(F.broadcast(total))
        .select(
            "bin",
            "ref_count",
            "cur_count",
            round_half_up(F.col("pr"), 6).alias("p_ref"),
            round_half_up(F.col("pc"), 6).alias("p_cur"),
            round_half_up(F.col("contrib_micro") / F.lit(1000000.0), 6).alias(
                "psi_contrib"
            ),
            round_half_up(F.col("tot_micro") / F.lit(1000000.0), 6).alias(
                "psi_total"
            ),
        )
    )


def control_chart_monthly(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    value_col: str = "o_totalprice",
) -> DataFrame:
    """Shewhart individuals/moving-range (X-MR) control chart over
    monthly revenue — the SPC complement of the CUSUM detector (CUSUM
    finds small sustained shifts; the 3σ chart flags single large
    excursions). σ is estimated from the mean moving range / d₂
    (d₂ = 1.128 for n = 2), the standard individuals-chart estimator,
    robust to slow trend that would inflate a direct stddev.

    Scale shape: month-grain pre-aggregation to exact integer cents,
    the moving range via an EQUI-join on the month index (no window),
    chart constants from one broadcast 1-row reduce; limits are fixed
    closed-form expressions of exact integer sums.

    Output (one row per month): month 'yyyy-MM', revenue (2dp),
    moving_range (2dp, NULL for the first/gap-following month),
    center (2dp), ucl (2dp), lcl (2dp), out_of_control (0/1).
    """
    from . import caching
    from ..functions.rounding import money_ints, round_half_up

    monthly = caching.persist_tracked(
        orders.groupBy(
            (F.year(date_col) * 12 + F.month(date_col) - 1).alias("idx")
        ).agg(F.sum(money_ints(value_col, 2)).alias("rev"))
    )
    prev = monthly.select(
        (F.col("idx") + 1).alias("idx"), F.col("rev").alias("prev_rev")
    )
    with_mr = monthly.join(prev, "idx", "left").withColumn(
        "mr", F.abs(F.col("rev") - F.col("prev_rev"))
    )
    consts = with_mr.agg(
        F.sum("rev").alias("srev"),
        F.count(F.lit(1)).alias("n"),
        F.sum("mr").alias("smr"),
        F.sum(F.when(F.col("mr").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("nmr"),
    ).select(
        (F.col("srev") / F.col("n")).alias("center_c"),
        # explicit zero guard (NULLIF in the oracle): with a single
        # month there is no moving range, and both engines must agree
        # on NULL sigma rather than rely on NULL/0 engine behavior
        F.when(
            F.col("nmr") > 0,
            F.col("smr").cast("double") / F.col("nmr") / F.lit(1.128),
        ).alias("sigma_c"),
    )
    out = with_mr.crossJoin(F.broadcast(consts))
    month_str = F.concat_ws(
        "-",
        F.floor(F.col("idx") / 12).cast("string"),
        F.lpad((F.col("idx") % 12 + 1).cast("string"), 2, "0"),
    )
    return out.select(
        month_str.alias("month"),
        round_half_up(F.col("rev") / F.lit(100.0), 2).alias("revenue"),
        round_half_up(F.col("mr") / F.lit(100.0), 2).alias("moving_range"),
        round_half_up(F.col("center_c") / F.lit(100.0), 2).alias("center"),
        round_half_up(
            (F.col("center_c") + F.lit(3.0) * F.col("sigma_c"))
            / F.lit(100.0),
            2,
        ).alias("ucl"),
        round_half_up(
            (F.col("center_c") - F.lit(3.0) * F.col("sigma_c"))
            / F.lit(100.0),
            2,
        ).alias("lcl"),
        (
            (
                F.col("rev")
                > F.col("center_c") + F.lit(3.0) * F.col("sigma_c")
            )
            | (
                F.col("rev")
                < F.col("center_c") - F.lit(3.0) * F.col("sigma_c")
            )
        )
        .cast("int")
        .alias("out_of_control"),
    )
