"""Skew mitigation: salted joins for pathological hot keys.

AQE's skew-join splitting (enabled in ``session.get_spark``) handles
most skew at runtime, but it only applies to sort-merge joins and only
splits the oversized partitions it can see. Salting is the explicit,
planner-independent fallback for a *known* hot key distribution — the
classic "one customer is 30% of the fact table" shape: the fact side
spreads each key over ``n_salts`` sub-keys, the (smaller) build side is
replicated ``n_salts``×, and the join runs on (key, salt) so no single
task owns a hot key.

Cost model: build-side shuffle volume multiplies by ``n_salts`` — use
the smallest salt count that flattens the skew, and only when the build
side is modest (if it broadcasts, skew is a non-issue: broadcast joins
don't partition by key at all). When only a FEW keys are hot,
:func:`hybrid_salted_join` salts just those and plain-joins the rest —
the production shape that avoids replicating the build side for the
uniform bulk.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    facts: DataFrame,
    build: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
) -> DataFrame:
    """Inner join ``facts`` ⋈ ``build`` on ``on``, salted ``n_salts``
    ways.

    Result rows are identical to ``facts.join(build, on)`` — the salt
    only changes the partitioning. The fact side's salt can be any
    value in [0, n_salts); a hash of the whole row spreads a hot key's
    rows uniformly and deterministically (no rand(), so re-runs and
    retried tasks agree).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in facts.columns]), F.lit(n_salts))
    salted_facts = facts.withColumn("__salt", salt.cast("int"))
    salted_build = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_facts.join(salted_build, [*on, "__salt"])
    return out.drop("__salt")


def hot_keys(facts: DataFrame, on: Sequence[str], threshold: int) -> DataFrame:
    """Join keys whose fact-side row count exceeds ``threshold``.

    One map-side-combined aggregate over the fact table — the partial
    counts collapse per key before the shuffle, so the extra pass costs
    one column-pruned scan, not a full-width shuffle. The result is
    small BY CONSTRUCTION (at most ``count(facts) / threshold`` keys),
    which is what makes broadcasting it safe at any fact size.
    """
    return (
        facts.groupBy(*[F.col(c) for c in on])
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > threshold)
        .select(*on)
    )


def hybrid_salted_join(
    facts: DataFrame,
    build: DataFrame,
    on: Sequence[str],
    threshold: int,
    n_salts: int = 16,
) -> DataFrame:
    """Salt ONLY the hot keys; plain-join everything else; union.

    :func:`salted_join` replicates the ENTIRE build side ``n_salts``× —
    the right trade when most keys are hot, pure waste when one key in
    a million is. The production shape is hybrid: detect keys above a
    frequency ``threshold`` (one cheap aggregate, :func:`hot_keys`),
    route those fact/build rows through the salted inner join, and let
    the uniform bulk take the ordinary shuffle join. Build-side replication then costs ``n_salts × |hot build rows|``
    (a handful of keys), not ``n_salts × |build|``.

    Results are identical to ``facts.join(build, on)`` — both branches
    partition the SAME rows differently, and the hot set (one row per
    key) is broadcast to both sides so the split is consistent: each
    fact row lands in exactly one branch, so the union never
    duplicates.
    """
    hot = hot_keys(facts, on, threshold)
    flag = F.broadcast(hot.withColumn("__hot", F.lit(True)))
    f_flagged = facts.join(flag, list(on), "left")
    b_flagged = build.join(flag, list(on), "left")
    f_hot = f_flagged.filter(F.col("__hot").isNotNull()).drop("__hot")
    f_cold = f_flagged.filter(F.col("__hot").isNull()).drop("__hot")
    b_hot = b_flagged.filter(F.col("__hot").isNotNull()).drop("__hot")
    b_cold = b_flagged.filter(F.col("__hot").isNull()).drop("__hot")
    hot_out = salted_join(f_hot, b_hot, on, n_salts)
    cold_out = f_cold.join(b_cold, list(on))
    return hot_out.unionByName(cold_out)


def key_skew_report(
    df: DataFrame, key_col: str
) -> DataFrame:
    """One-row skew diagnostic for a prospective shuffle key — the
    measurement that decides between a plain hash join/agg, AQE's
    skew-join split, and :func:`hybrid_salted_join`'s explicit
    salting. Reports the group-size distribution of ``key_col``:
    (n_keys, n_rows, mean_sz, p50_sz, p99_sz, max_sz, skew_ratio =
    max/mean, max_share = max/rows).

    Reading it: skew_ratio ≈ 1 and p99 ≈ p50 → uniform key, shuffle
    freely. skew_ratio ≫ p99/mean → a few hot keys (the salting
    case — feed :func:`hot_keys` with a threshold near p99·mean).
    max_share near 1 → the key is ~constant and the shuffle
    degenerates to one reducer regardless of strategy.

    Scale shape: one keyed combining aggregate to the key grain, then
    a one-row rollup. The percentiles are EXACT interpolated
    (engine-parity with the DuckDB oracle); at the 100 TB grain swap
    in approx_percentile — same one-pass shape, sketch-bounded
    memory (the price_percentile_bands precedent).
    """
    from ..functions.rounding import round_half_up

    g = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    # empty-frame contract matches k_anonymity/l_diversity_report:
    # counts and size stats coalesce to 0, ratios guarded NULL-free
    # (0.0) so a downstream gate comparing reports never sees NULLs
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_rows"),
        round_half_up(F.coalesce(F.avg("sz"), F.lit(0.0)), 4).alias(
            "mean_sz"
        ),
        round_half_up(
            F.coalesce(F.expr("percentile(sz, 0.5)"), F.lit(0.0)), 2
        ).alias("p50_sz"),
        round_half_up(
            F.coalesce(F.expr("percentile(sz, 0.99)"), F.lit(0.0)), 2
        ).alias("p99_sz"),
        F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("max_sz"),
    ).select(
        "n_keys",
        "n_rows",
        "mean_sz",
        "p50_sz",
        "p99_sz",
        "max_sz",
        round_half_up(
            F.when(
                F.col("mean_sz") > 0, F.col("max_sz") / F.col("mean_sz")
            ).otherwise(F.lit(0.0)),
            2,
        ).alias("skew_ratio"),
        round_half_up(
            F.when(
                F.col("n_rows") > 0, F.col("max_sz") / F.col("n_rows")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("max_share"),
    )
