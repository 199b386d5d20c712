"""Deterministic sampling and PII-scrubbing operators.

A training-data pipeline rebalances sources (downsample the dominant
language / source before training) and scrubs contact details. The
row-level operators are pure Catalyst projections — map-only, no
shuffle, no UDF (the mixture/per-group variants add only the small
keyed aggregates their semantics require) — and fully deterministic:
the sampling decision is a pure
function of (stratum, id) via md5, so re-runs, retries, and different
partitionings all keep exactly the same rows. That determinism is what
makes distributed sampling reproducible at 100 TB — rand()-based
sampling changes under AQE retries and speculative execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round_half_up

#: Java-and-RE2-compatible patterns (no backrefs / lookaround, so the
#: same pattern string runs in Spark (Java regex) and DuckDB (RE2)).
EMAIL_PATTERN = r"[A-Za-z0-9._%+#-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9 -]{7,}[0-9]"


def redact_pii(col: Column) -> Column:
    """Replace emails then phone-like runs with typed placeholders.

    Email first: an email's digits could otherwise partially match the
    phone pattern, making the result order-dependent.
    """
    no_email = F.regexp_replace(col, EMAIL_PATTERN, "[EMAIL]")
    return F.regexp_replace(no_email, PHONE_PATTERN, "[PHONE]")


def pii_counts(col: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) match counts — phones counted AFTER email
    redaction, mirroring redact_pii's replacement order."""
    n_email = F.size(F.regexp_extract_all(col, F.lit(EMAIL_PATTERN), 0))
    after = F.regexp_replace(col, EMAIL_PATTERN, "[EMAIL]")
    n_phone = F.size(F.regexp_extract_all(after, F.lit(PHONE_PATTERN), 0))
    return n_email.cast("long"), n_phone.cast("long")


_HEX_SPACE = 16**8  # md5-prefix sample keys are 8 hex chars


def _rate_to_hex(rate: float) -> str:
    return format(min(max(int(rate * _HEX_SPACE), 0), _HEX_SPACE - 1), "08x")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    seed: str = "v1",
) -> DataFrame:
    """Deterministic hash-threshold stratified sampling.

    A row is kept iff the first 8 hex chars of
    ``md5(seed:stratum:id)`` fall below the stratum's rate threshold —
    a pure per-row predicate, exactly reproducible in any engine with
    md5 (the DuckDB oracle uses the literal same expression). Rates
    >= 1.0 keep everything; the expected kept fraction of each stratum
    is its rate (exact in distribution, binomial per finite stratum).

    Adds a ``sample_key`` column (the hex prefix) for auditability.
    """
    key = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.lit(seed), F.col(strata_col), F.col(id_col).cast("string")
            )
        ),
        1,
        8,
    )
    keep = F.lit(default_rate >= 1.0)
    if default_rate < 1.0:
        keep = key < F.lit(_rate_to_hex(default_rate))
    for stratum, rate in sorted(rates.items()):
        in_stratum = F.col(strata_col) == stratum
        stratum_keep = F.lit(True) if rate >= 1.0 else (key < F.lit(_rate_to_hex(rate)))
        keep = F.when(in_stratum, stratum_keep).otherwise(keep)
    return df.withColumn("sample_key", key).filter(keep)


def mixture_sample_summary(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.5,
    target_frac: float = 0.3,
    seed: str = "mix1",
) -> DataFrame:
    """Temperature-scaled source-mixture sampling (summary form).

    The corpus-mixture step of every large pretraining run (the Pile /
    LLaMA-style source reweighting): source ``s`` gets mixture weight
    ``w_s = n_s**alpha / sum(n**alpha)`` — ``alpha < 1`` upsamples
    small high-value sources relative to their raw share — and a
    per-document keep rate ``rate_s = min(1, target_frac * N * w_s /
    n_s)`` so the expected kept volume is ``target_frac * N`` split by
    the tempered weights. Document membership is the same
    deterministic md5-threshold predicate as :func:`stratified_sample`
    (no RNG — retries and repartitions cannot change the sample).

    Rates are ROUNDED TO 6dp before thresholding so a last-ulp ``pow``
    difference between engines can never move the cut line (the same
    round-before-compare contract the percentile operators use). A
    rate >= 1.0 keeps everything explicitly — its 2**32 threshold does
    not fit the 8-hex-char key space.

    Scale shape: the per-source rate table is one groupBy(source)
    aggregate (source cardinality is tiny) broadcast back onto the
    corpus; the keep predicate and the final per-source rollup are one
    map pass + one small shuffle.

    Output: (stratum, n_docs, mix_weight 4dp, rate 6dp, n_kept).
    """
    c = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tot = c.agg(
        F.sum("n").alias("n_total"),
        F.sum(F.pow("n", F.lit(alpha))).alias("wsum"),
    )
    w = F.pow("n", F.lit(alpha)) / F.col("wsum")
    rates = c.join(F.broadcast(tot)).select(
        "stratum",
        F.col("n").cast("long").alias("n_docs"),
        round_half_up(w, 4).alias("mix_weight"),
        round_half_up(
            F.least(F.lit(1.0), F.lit(target_frac) * F.col("n_total") * w / F.col("n")),
            6,
        ).alias("rate"),
    )
    key = F.substring(
        F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string"))), 1, 8
    )
    thresh = F.lower(
        F.lpad(
            F.hex(F.floor(F.col("rate") * F.lit(float(_HEX_SPACE))).cast("bigint")),
            8,
            "0",
        )
    )
    kept = (F.col("rate") >= 1.0) | (key < thresh)
    return (
        df.select(F.col(strata_col).alias("stratum"), F.col(id_col))
        .join(F.broadcast(rates), "stratum")
        .groupBy("stratum", "n_docs", "mix_weight", "rate")
        .agg(F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"))
    )


def _hash_min_key(id_col: str, w: Column, seed: str) -> Column:
    """min over r < w of the 8-hex md5(seed:id:r) prefix — the shared
    replication key of both weighted samplers; built in-plan as one
    array_min(transform(sequence)) expression, no explode."""
    return F.array_min(
        F.transform(
            F.sequence(F.lit(0), w - 1),
            lambda r: F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit(seed), F.col(id_col).cast("string"), r.cast("string")
                    )
                ),
                1,
                8,
            ),
        )
    )


def weighted_sample_bottomk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int = 100,
    max_weight: int = 8,
    seed: str = "ws1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (bottom-k by
    hash-min replication): each row draws ``w`` md5 keys —
    ``md5(seed:id:r)`` for r < w, built in-plan as one
    ``array_min(transform(sequence(...)))`` expression, no explode —
    and keeps the MINIMUM; the global sample is the ``k`` rows with the
    smallest keys (TakeOrderedAndProject, never a global window). A
    row with integer weight ``w`` holds the minimum of ``w`` uniforms
    (Beta(1, w)), so heavier rows win proportionally more often — the
    integer-replication analogue of A-ES / Efraimidis–Spirakis
    exponential keys, chosen over the exact ``u^(1/w)`` form because
    it needs NO transcendental function: keys are hex strings both
    engines compare byte for byte, so the draw is bit-reproducible
    across engines, retries, and partitionings.

    ``max_weight`` caps the replication factor (the expression cost is
    O(w) md5 calls per row — at 100 TB keep it single digits and fold
    real-valued weights into buckets first). Weights are clamped to
    [1, max_weight]; NULL ids are excluded.

    Scale shape: one map pass computes keys, then a single
    TakeOrderedAndProject picks the global bottom-k — per-partition
    top-k then a k-row driver merge, no shuffle of the corpus and no
    single-reducer window.
    """
    w = F.least(
        F.lit(max_weight), F.greatest(F.lit(1), F.col(weight_col).cast("int"))
    )
    key = _hash_min_key(id_col, w, seed)
    return (
        df.filter(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            w.alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").asc(), F.col(id_col).asc())
        .limit(k)
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k_per_group: int = 20,
    max_weight: int = 8,
    seed: str = "ws1",
) -> DataFrame:
    """Per-group weighted sampling without replacement: the same
    hash-min replication key as :func:`weighted_sample_bottomk`, ranked
    WITHIN each group — bottom-``k_per_group`` per group instead of a
    global bottom-k. The per-group rank plans as WindowGroupLimit
    (per-partition heap of k rows per group key before the shuffle),
    so the shuffle carries ≤ groups · k · partitions rows, never the
    corpus — the stratified counterpart every mixture pipeline needs
    next to the global draw.

    Output: (group, id, weight, sample_key, rnk ≤ k_per_group).
    """
    w = F.least(
        F.lit(max_weight), F.greatest(F.lit(1), F.col(weight_col).cast("int"))
    )
    key = _hash_min_key(id_col, w, seed)
    keyed = df.filter(
        F.col(id_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col),
        F.col(id_col),
        w.alias("weight"),
        key.alias("sample_key"),
    )
    win = Window.partitionBy(group_col).orderBy(
        F.col("sample_key").asc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("rnk", F.row_number().over(win).cast("int"))
        .filter(F.col("rnk") <= k_per_group)
    )


def sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int = 5,
    seed: str = "v1",
) -> DataFrame:
    """Deterministic fixed-size per-group sample: the k smallest
    ``md5(seed:id)`` keys of each group — the hash-rank formulation of
    reservoir sampling (uniform over the group, yet exactly
    reproducible across engines, retries, and repartitions, which a
    classical stateful reservoir is not).

    Shape: one shuffle on the group key + a per-group sort. At 100 TB
    the window's full per-group sort is the cost; the swap is a
    two-phase top-k (per-partition k-heap partial → merge), which
    Spark applies automatically for global ORDER BY LIMIT but not per
    group — bounded k keeps the window variant viable far longer than
    a full-rank window would be.

    Output: (group, id, sample_rank 1..k, sample_key).
    """
    key = F.md5(F.concat_ws(":", F.lit(seed), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(F.col("sample_key"), F.col(id_col))
    return (
        df.select(F.col(group_col), F.col(id_col), key.alias("sample_key"))
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= k)
    )


def k_anonymity_report(
    df: DataFrame, quasi_cols: "list[str]", k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier set — the privacy QA
    gate before a data release: a row is re-identifiable when its
    quasi-identifier combination is shared by fewer than ``k`` rows.

    One keyed combining aggregate to the quasi-group grain, then a
    one-row rollup: (k, n_rows, n_groups, n_small_groups,
    n_risky_rows, risky_row_share 4dp). NULL quasi-values group as
    their own value (SQL GROUP BY semantics) — a NULL city is itself
    a fingerprint, so it must count toward group sizes, not escape
    them.
    """
    g = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__n"))
    # coalesce the sums: over an EMPTY frame they are NULL, and an
    # empty (trivially safe) release must report zeros a gate can
    # compare, not Nones
    return g.agg(
        F.lit(k).cast("int").alias("k"),
        F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.coalesce(
            F.sum(F.when(F.col("__n") < k, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_small_groups"),
        F.coalesce(
            F.sum(F.when(F.col("__n") < k, F.col("__n")).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_risky_rows"),
    ).select(
        "k",
        "n_rows",
        "n_groups",
        "n_small_groups",
        "n_risky_rows",
        F.when(
            F.col("n_rows") > 0,
            round_half_up(F.col("n_risky_rows") / F.col("n_rows"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("risky_row_share"),
    )


def l_diversity_report(
    df: DataFrame, quasi_cols: "list[str]", sensitive_col: str, l: int = 3
) -> DataFrame:
    """l-diversity audit — the attribute-disclosure gate k-anonymity
    misses: a quasi-group can be large (k-anonymous) yet carry only
    ONE sensitive value, so membership alone reveals the attribute.
    A group is l-diverse when its sensitive column takes ≥ ``l``
    distinct (well-represented) values.

    One keyed combining aggregate to the quasi-group grain carrying
    count + count-distinct(sensitive), then a one-row rollup:
    (l, n_rows, n_groups, n_nondiverse_groups, n_exposed_rows,
    exposed_row_share 4dp). NULL sensitive values count as a value of
    their own (they still partition the group's attribute space);
    NULL quasi-values group as themselves, matching
    :func:`k_anonymity_report`.
    """
    g = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        # count_distinct skips NULL; add the NULL-present flag so a
        # NULL sensitive value counts as one more distinct value
        (
            F.countDistinct(sensitive_col)
            + F.max(
                F.when(F.col(sensitive_col).isNull(), 1).otherwise(0)
            )
        ).alias("__lv"),
    )
    bad = F.col("__lv") < l
    # empty-frame contract matches k_anonymity_report: sums coalesce
    # to 0 (not NULL) so a downstream gate can compare the two
    # reports; the share guards the 0/0 with an explicit NULL
    n_rows = F.coalesce(F.sum("__n"), F.lit(0)).cast("long")
    n_exposed = F.coalesce(
        F.sum(F.when(bad, F.col("__n")).otherwise(0)), F.lit(0)
    ).cast("long")
    return g.agg(
        F.lit(l).cast("int").alias("l"),
        n_rows.alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.coalesce(
            F.sum(F.when(bad, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_nondiverse_groups"),
        n_exposed.alias("n_exposed_rows"),
        F.when(
            n_rows > 0,
            round_half_up(n_exposed / n_rows.cast("double"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("exposed_row_share"),
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    train_frac: float = 0.8,
    val_frac: float = 0.1,
    seed: str = "split-v1",
) -> DataFrame:
    """Deterministic stratified train/val/test assignment.

    A row's split is a pure function of ``md5(seed:stratum:id)``: the
    8-hex-char prefix lands below ``train_frac`` → ``train``, below
    ``train_frac + val_frac`` → ``val``, else ``test`` — the same
    md5-threshold discipline as :func:`stratified_sample`, so the
    assignment is exactly reproducible under retries, repartitioning,
    AQE re-plans, and in any engine with md5 (the oracle restates the
    identical expression). Hashing inside the stratum key means
    adding a NEW stratum never reshuffles existing rows' splits, and
    membership needs no global state: map-only, zero shuffle, holds
    unchanged at any corpus size. Adds ``split_key`` (audit) and
    ``split`` columns."""
    if not (0.0 < train_frac and 0.0 <= val_frac
            and train_frac + val_frac < 1.0):
        raise ValueError("need 0 < train_frac, 0 <= val_frac, sum < 1")
    key = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.lit(seed), F.col(strata_col), F.col(id_col).cast("string")
            )
        ),
        1,
        8,
    )
    split = (
        F.when(key < F.lit(_rate_to_hex(train_frac)), F.lit("train"))
        .when(key < F.lit(_rate_to_hex(train_frac + val_frac)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split_key", key).withColumn("split", split)
