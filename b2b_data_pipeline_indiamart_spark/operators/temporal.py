"""Temporal / event-stream operators (batch form).

The streaming forms live in ``streaming/``; these batch operators share
the same logical shape so results are comparable.

Scale notes: tumbling aggregation shuffles once on (bucket, type) —
low cardinality, partial-agg friendly. Sessionization shuffles once on
user_id (the partition key of the window); within a user the sort is
local. Skewed users are split by AQE only for joins, so a genuinely
pathological power-user would be handled by salting the session window
key — documented, not needed at test SFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import exact_avg, exact_sum, money_ints, round_half_up


def tumbling_agg(events: DataFrame, bucket: str = "hour") -> DataFrame:
    """Tumbling-window count/sum per event_type.

    Epoch-aligned buckets via date_trunc — identical semantics to
    ``window(ts, '1 hour')`` for epoch-aligned widths, and directly
    expressible in any SQL oracle.
    """
    return (
        events.withColumn("bucket_ts", F.date_trunc(bucket, F.col("ts")))
        .groupBy(
            F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            exact_sum(money_ints("value"), 2).alias("sum_value"),
        )
    )


def session_ids(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-event session ids: events + a ``session_id`` column (1-based
    per user). The one gap-session rule behind :func:`sessionize`,
    :func:`bounce_rate_daily`, :func:`session_paths` and
    :func:`max_concurrency` — lag + cumulative-sum-of-boundaries over
    (user, time), ONE user-keyed shuffle, local sort within user.
    """
    gap_ms = gap_minutes * 60 * 1000
    w_user = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ms = F.unix_millis(F.col("ts"))
    with_breaks = events.withColumn(
        "__new_session",
        F.when(
            F.lag(ms).over(w_user).isNull() | ((ms - F.lag(ms).over(w_user)) > gap_ms),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w_cum = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return with_breaks.withColumn(
        "session_id", F.sum("__new_session").over(w_cum).cast("long")
    ).drop("__new_session")


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap
    since the previous event of the same user exceeds ``gap_minutes``.

    lag + cumulative-sum-of-boundaries over (user, time) — the classic
    single-shuffle formulation (:func:`session_ids`).
    """
    return (
        session_ids(events, gap_minutes)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.unix_millis("ts")) - F.min(F.unix_millis("ts"))).alias("session_ms"),
            exact_sum(money_ints("value"), 2).alias("sum_value"),
        )
    )


def bounce_rate_daily(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Daily bounce rate: share of sessions with exactly one event,
    keyed by the session's START day.

    Same single user-keyed shuffle as :func:`sessionize`
    (:func:`session_ids`), then a session-grain aggregate carrying
    (start ts, event count) and a tiny day-grain rollup — the bounce
    flag thresholds an exact integer count, so no rounding hazards.

    Output: (day 'yyyy-MM-dd', n_sessions, n_bounces, bounce_rate 4dp).
    """
    sess = (
        session_ids(events, gap_minutes)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("__start"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return (
        sess.groupBy(F.date_format("__start", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("__n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
            round_half_up(
                F.sum(F.when(F.col("__n") == 1, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            ).alias("bounce_rate"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: attach to each left row the latest right row
    with ``right.ts < left.ts`` within the same ``on`` keys. Left rows with no match keep NULL right columns.

    Spark-first shape: NO join at all — union the two sides, run one
    ``last(..., ignorenulls)`` window over (on, ts), keep left rows.
    Single shuffle on the ``on`` keys, local sort within each key: the
    scale-correct idiom (a theta-join formulation would be a cross
    product per key). Tie-break at equal timestamps is encoded in the
    sort: the left row sorts BEFORE same-ts right rows, excluding them
    from its frame.

    Right payload rides in one struct so arbitrarily many columns cost
    a single window expression.
    """
    right_cols = list(right_cols or [c for c in right.columns if c not in on and c != right_ts])
    lhs = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lv"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in [right_ts] + right_cols) + ">"
        ).alias("__rv"),
    )
    rhs = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(lhs.schema["__lv"].dataType.simpleString()).alias("__lv"),
        F.struct(F.col(right_ts), *[F.col(c) for c in right_cols]).alias("__rv"),
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        lhs.unionByName(rhs)
        .withColumn("__m", F.last("__rv", ignorenulls=True).over(w))
        .filter(F.col("__side") == 0)
    )
    out_cols = [F.col(f"__lv.{c}").alias(c) for c in left.columns]
    out_cols.append(F.col(f"__m.{right_ts}").alias(f"matched_{right_ts}"))
    out_cols.extend(F.col(f"__m.{c}").alias(f"matched_{c}") for c in right_cols)
    return matched.select(*out_cols)


def range_join_agg(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    aggs: list,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback_seconds: int = 600,
) -> DataFrame:
    """Bounded-interval range join + aggregate: for each left row,
    aggregate right rows with ``left.ts - lookback <= right.ts <=
    left.ts`` in the same ``on`` keys. Left rows with no right rows in
    range survive with empty-aggregate values (left semantics).

    Scale shape — the bin-bucketed range-join idiom: bin both sides to
    ``lookback``-wide epoch buckets, explode each LEFT row to its two
    covering bins (bin, bin-1), equi-join on (on, bin), then apply the
    exact interval as a residual filter. Shuffle is O(2·|left| +
    |right|) on compact keys — never the per-key cross product a naive
    theta join would build. AQE handles residual skew; a hotter key
    would add salting on the bin.

    ``aggs`` are Column aggregates over the joined right columns (use
    ``F.count`` / ``F.sum`` with the caller's aliases).

    Fully-duplicate left rows are handled exactly: identical rows are
    collapsed to one group WITH a multiplicity count before the join,
    aggregated once (each copy matches the same right rows by
    definition), and re-expanded to ``__lmult`` output rows at the end
    — deterministic, no synthetic row ids, and the join/aggregate
    stages see each distinct left row once instead of N times.
    """
    us = 1_000_000 * lookback_seconds
    l = left.select(
        *on,
        F.unix_micros(F.col(left_ts)).alias("__lts"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lv"),
    )
    # collapse exact-duplicate left rows, remembering how many copies
    # each distinct row had (one extra O(|left|) shuffle; removes the
    # duplicate-merge hazard where two identical rows' groups would
    # fuse and double every aggregate)
    l_dist = l.groupBy(*on, "__lts", "__lv").agg(F.count(F.lit(1)).alias("__lmult"))
    l_binned = l_dist.select(*on, "__lts", "__lv").withColumn(
        "__bin", F.explode(F.array(F.floor(F.col("__lts") / us), F.floor(F.col("__lts") / us) - 1))
    )
    r = right.select(
        *on,
        F.unix_micros(F.col(right_ts)).alias("__rts"),
        F.struct(*[F.col(c) for c in right.columns]).alias("__rv"),
    ).withColumn("__bin", F.floor(F.col("__rts") / us))
    joined = (
        l_binned.join(r, on=[*on, "__bin"], how="inner")
        .filter((F.col("__rts") >= F.col("__lts") - us) & (F.col("__rts") <= F.col("__lts")))
        # right columns surface as r_<name> for the caller's aggregates
        .select(
            *on,
            "__lts",
            "__lv",
            *[F.col(f"__rv.{c}").alias(f"r_{c}") for c in right.columns],
        )
    )
    hits = joined.groupBy(*on, "__lts", "__lv").agg(*aggs)
    agg_names = [c for c in hits.columns if c not in {*on, "__lts", "__lv"}]
    # left semantics: re-attach rows whose bins matched nothing, then
    # re-expand each distinct left row to its original multiplicity.
    # (Caveat: NULLs inside join keys would drop rows under SQL
    # equality — callers pass non-null keys/timestamps, as the
    # registered query does.)
    out = l_dist.join(hits, on=[*on, "__lts", "__lv"], how="left").withColumn(
        "__copy", F.explode(F.sequence(F.lit(1), F.col("__lmult")))
    )
    return out.select(
        *[F.col(f"__lv.{c}").alias(c) for c in left.columns],
        *[F.col(c) for c in agg_names],
    )


def dedup_within_window(
    events: DataFrame,
    window_sec: int = 300,
    keys: "tuple[str, ...]" = ("user_id", "event_type"),
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Batch analogue of Structured Streaming's
    ``dropDuplicatesWithinWatermark``: within each ``window_sec``
    tumbling window, keep the FIRST event per key tuple (earliest
    (ts, id) — deterministic tie-break) and report how many the
    window collapsed. The backfill/replay counterpart of the
    streaming dedup job (streaming/jobs.dedup_stream): identical
    semantics when the stream's watermark covers the window, so a
    batch re-run reconciles against what the stream emitted.

    One map-side-combining aggregate — the first-row pick is
    ``min(struct(ts, id))`` (no per-key window, no second shuffle);
    the window id is integer millisecond arithmetic
    (floor(unix_millis / window_ms), exact in double), so bucket
    edges cannot drift between engines.

    Output: (window_start_epoch sec, *keys, kept_event_id, n_events).
    """
    wid = F.floor(
        F.unix_millis(F.col(ts_col)) / F.lit(float(window_sec * 1000))
    ).cast("long")
    first = F.min(F.struct(F.col(ts_col), F.col(id_col))).alias("__first")
    return (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy((wid * window_sec).alias("window_start_epoch"), *keys)
        .agg(first, F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "window_start_epoch",
            *keys,
            F.col(f"__first.{id_col}").alias("kept_event_id"),
            "n_events",
        )
    )


def parse_props(events: DataFrame, json_col: str = "props", key: str = "k") -> DataFrame:
    """JSON props extraction + per-type aggregate (get_json_object is a
    JVM intrinsic — no Python in the path)."""
    v = F.get_json_object(F.col(json_col), f"$.{key}").cast("int")
    return (
        events.withColumn("k_value", v)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            round_half_up(F.avg("k_value"), 4).alias("avg_k"),
            F.sum(F.when(F.col("k_value").isNull(), 1).otherwise(0)).cast("long").alias("null_k"),
        )
    )


def gap_fill_hourly(events: DataFrame, group_col: str = "event_type") -> DataFrame:
    """Dense hourly time series per group with zero-filled counts and
    forward-filled averages — the gap-filling / interpolation operator
    of time-series stores (TimescaleDB ``time_bucket_gapfill`` /
    InfluxDB ``fill(previous)``), composed from built-ins.

    Shape: one tiny global (min, max) aggregate defines the spine;
    ``sequence()`` + ``explode`` generates it (spine size ∝ time range
    × group cardinality, INDEPENDENT of event count — 100 TB of events
    over a year is still only 8.8k spine rows per group); the observed
    hourly rollup left-joins onto it (broadcast: the spine is tiny) and
    a ``last(..., ignorenulls)`` running window carries values across
    gaps. Single shuffle on the group key for the fill window.

    Returns (group, hour_start string, n_events zero-filled,
    avg_value 2dp or NULL on gap hours, filled_avg_value carried
    forward, is_gap flag).
    """
    hours = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    ).select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour_ts")
    )
    groups = events.select(F.col(group_col).alias("grp")).distinct()
    spine = hours.crossJoin(F.broadcast(groups))
    observed = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
            F.col(group_col).alias("grp"),
        )
        .agg(
            F.count(F.lit(1)).alias("__cnt"),
            exact_avg("value", 2).alias("avg_value"),
        )
    )
    # broadcast the observed rollup (bounded by spine cardinality —
    # hours × groups — regardless of event volume); a left-outer join
    # can only build its RIGHT side, so the hint goes here, not on the
    # spine
    joined = spine.join(F.broadcast(observed), ["hour_ts", "grp"], "left")
    w_fill = (
        Window.partitionBy("grp")
        .orderBy(F.col("hour_ts").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        F.col("grp").alias(group_col),
        F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        F.coalesce(F.col("__cnt"), F.lit(0)).cast("long").alias("n_events"),
        F.col("avg_value"),
        F.last("avg_value", ignorenulls=True).over(w_fill).alias("filled_avg_value"),
        F.col("__cnt").isNull().alias("is_gap"),
    )


def retention_cohorts(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Cohort retention matrix: users bucketed by first-activity day,
    counted on each later active day as an offset from their cohort —
    the (cohort_day, offset_days, n_users) triangle behind every
    retention chart.

    Single-shuffle shape: ONE groupBy(user) collects each user's
    distinct active-day set alongside its minimum (the cohort day);
    exploding that set yields exactly one row per (user, day), so the
    final rollup needs a plain count, not count-distinct. The per-user
    day set is bounded by the calendar span of the data (365 entries
    per user-year), not by event volume — 100 TB of events collapses
    to |users| × |active days| rows after the first aggregation. The
    join-based alternative (min-ts per user joined back to the event
    stream) shuffles the full stream twice and needs a distinct; this
    form does neither.
    """
    per_user = (
        events.select(F.col(user_col), F.date_trunc("day", F.col("ts")).alias("__day"))
        .groupBy(user_col)
        .agg(
            F.min("__day").alias("__cohort"),
            F.collect_set("__day").alias("__days"),
        )
    )
    exploded = per_user.select(
        F.col("__cohort"), F.explode("__days").alias("__day")
    )
    return exploded.groupBy(
        F.date_format("__cohort", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff(F.col("__day"), F.col("__cohort")).cast("int").alias("offset_days"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


def session_paths(
    events: DataFrame, gap_minutes: int = 30, path_len: int = 3, top_n: int = 20
) -> DataFrame:
    """Top event-type paths: the first ``path_len`` event types of each
    session (gap-based, same boundaries as :func:`sessionize`) joined
    into a ``"a > b > c"`` path, counted corpus-wide, top ``top_n`` by
    frequency — the clickstream path-analysis rollup.

    One shuffle on user_id assigns sessions (:func:`session_ids`);
    the per-session prefix is an ``array_sort(collect_list(struct))``
    whose struct sorts (ts, event_id, type) — deterministic under any
    partitioning — sliced to ``path_len`` BEFORE the path groupBy, so
    the second shuffle carries one short string per session. Final
    top-n is a TakeOrderedAndProject with path tie-break.
    """
    paths = session_ids(events, gap_minutes).groupBy("user_id", "session_id").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                path_len,
            ),
            " > ",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(top_n)
    )


def ewma_hourly(
    events: DataFrame,
    group_col: str = "event_type",
    decay: float = 0.8,
    window_hours: int = 24,
) -> DataFrame:
    """Exponentially-weighted moving average of hourly event volume.

    For each observed (group, hour), ``ewma = sum(cnt[h-j] * decay^j)
    / sum(decay^j)`` over the trailing ``window_hours`` OBSERVED
    hours, weights decayed by true hour distance ``j`` — gap-aware:
    an absent hour contributes to neither numerator nor normalizer,
    so the estimate never dilutes toward zero across outage gaps
    (``fill(previous)``-style smoothing; pair with gap_fill_hourly
    when zero-fill semantics are wanted instead).

    Scale shape: the naive formulation is a range self-join (theta
    join — quadratic within each band). This instead EXPLODES each
    hourly observation into its ``window_hours`` future target slots
    (sequence + explode, a fixed ×W in-plan expansion of an
    already-aggregated hourly frame, same trick as events_sliding)
    and re-aggregates by equi-key (group, target hour) — one hash
    shuffle, no theta join. A left-semi join against the observed
    hours keeps the output grid = observed grid. The linear-recurrence
    form (u_t = x_t / decay^t prefix sums) is deliberately avoided:
    ``decay^-t`` overflows doubles after ~1500 hours.

    Output: (group, hour_start, n_events, ewma 4dp).
    """
    hourly = (
        events.groupBy(
            F.col(group_col).alias("grp"),
            (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
            .cast("long")
            .alias("hidx"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    contrib = hourly.select(
        "grp",
        "cnt",
        F.col("hidx").alias("src_hidx"),
        F.explode(
            F.sequence(F.col("hidx"), F.col("hidx") + F.lit(window_hours - 1))
        ).alias("tgt_hidx"),
    ).select(
        "grp",
        "tgt_hidx",
        (F.col("cnt") * F.pow(F.lit(decay), F.col("tgt_hidx") - F.col("src_hidx"))).alias("wx"),
        F.pow(F.lit(decay), F.col("tgt_hidx") - F.col("src_hidx")).alias("w"),
    )
    smoothed = contrib.groupBy("grp", "tgt_hidx").agg(
        (F.sum("wx") / F.sum("w")).alias("__ewma")
    )
    observed = hourly.select("grp", F.col("hidx").alias("tgt_hidx"), "cnt")
    return (
        smoothed.join(observed, ["grp", "tgt_hidx"])
        .select(
            F.col("grp").alias(group_col),
            F.date_format(
                F.timestamp_seconds(F.col("tgt_hidx") * 3600), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour_start"),
            F.col("cnt").cast("long").alias("n_events"),
            round_half_up(F.col("__ewma"), 4).alias("ewma"),
        )
    )


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Session-length distribution built on :func:`sessionize`:
    one row per session size ``n_events`` with how many sessions hit
    that size, their mean duration, and mean carried value — the
    engagement-distribution rollup a clickstream dashboard plots.

    Adds ONE tiny aggregation (cardinality = distinct session sizes)
    on top of sessionize's single user-keyed shuffle.

    Both means reduce EXACT BIGINTS (millisecond durations; 2dp session
    values recovered to integer cents) and divide once at the end — a
    float ``avg`` here is order-sensitive at the ULP level, and a
    partitioning change (e.g. another key's cached fragment swapping
    into the plan) once flipped a 4dp rounding boundary in the full
    parity run (round-10 flake). Exact sums make the result
    partitioning- and cache-state-independent, the embedding_cov
    pattern.

    Output: (n_events, n_sessions, avg_session_min 4dp, avg_value 4dp).
    """
    s = sessionize(events, gap_minutes=gap_minutes)
    cents = F.round(F.col("sum_value") * 100).cast("long")
    return (
        s.groupBy(F.col("n_events").cast("long").alias("n_events"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("session_ms").alias("__ms"),
            F.sum(cents).alias("__cents"),
        )
        .select(
            "n_events",
            "n_sessions",
            round_half_up(
                F.col("__ms") / (F.col("n_sessions") * 60000.0), 4
            ).alias("avg_session_min"),
            round_half_up(
                F.col("__cents") / (F.col("n_sessions") * 100.0), 4
            ).alias("avg_value"),
        )
    )


def max_concurrency(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Peak concurrent sessions — the sweep-line operator: how many
    user sessions were simultaneously open at the busiest instant, and
    when that instant first occurred (capacity-planning / surge
    readout).

    Sessions are the same gap-based intervals as :func:`sessionize`
    (inclusive [first-event, last-event] millisecond bounds); each
    contributes a +1 boundary at its start and a −1 at end+1 ms, so
    back-to-back sessions touching at one instant DO count as
    concurrent. The boundary stream is swept in the total order
    (ms, delta, user_id, session_id) — −1 sorts before +1 at the same
    ms, which is exactly the inclusive-interval semantics.

    Scale shape: the running count over the sweep is
    operators/ranking.global_cumsum — range repartition +
    partition-local window + broadcast prefix offsets — so the global
    ordering never funnels through one reducer; the final max/argmin
    is a one-row aggregate. Boundaries are 2 rows per SESSION (not per
    event). Intermediates persist_tracked; release via
    caching.release_cached().

    Output: one row (max_concurrent, at_time 'yyyy-MM-dd HH:mm:ss.SSS').
    """
    from .ranking import global_cumsum

    sess = (
        session_ids(events, gap_minutes)
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_millis("ts")).alias("__start"),
            (F.max(F.unix_millis("ts")) + 1).alias("__end_excl"),
        )
    )
    bounds = sess.select(
        F.col("__start").alias("ms"), F.lit(1).cast("long").alias("delta"),
        "user_id", "session_id",
    ).unionByName(
        sess.select(
            F.col("__end_excl").alias("ms"), F.lit(-1).cast("long").alias("delta"),
            "user_id", "session_id",
        )
    )
    swept = global_cumsum(
        bounds,
        [F.col("ms").asc(), F.col("delta").asc(), F.col("user_id").asc(),
         F.col("session_id").asc()],
        "delta",
        "open_sessions",
    )
    peak = swept.agg(F.max("open_sessions").alias("__peak"))
    return (
        swept.join(F.broadcast(peak), F.col("open_sessions") == F.col("__peak"))
        .agg(
            F.max("open_sessions").cast("long").alias("max_concurrent"),
            F.date_format(
                F.timestamp_millis(F.min("ms")), "yyyy-MM-dd HH:mm:ss.SSS"
            ).alias("at_time"),
        )
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current event type).

    Each user's events are ordered by (ts, event_id) — the unique
    event_id tie-break makes the sequence a total order, so the
    transition set is deterministic. ``lead`` runs over a
    user-partitioned window (P parallel tasks, never a global sort);
    the pair counts aggregate on the tiny (cur, next) type-pair grain
    with map-side combine, and the per-current-type totals are a
    broadcast join (type cardinality is bounded — it is the schema,
    not the data).

    Output: (cur_type, next_type, n_transitions, prob 4dp).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
    )
    cnt = pairs.groupBy(
        F.col("event_type").alias("cur_type"), "next_type"
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    tot = cnt.groupBy("cur_type").agg(F.sum("n_transitions").alias("__t"))
    return (
        cnt.join(F.broadcast(tot), "cur_type")
        .select(
            "cur_type",
            "next_type",
            F.col("n_transitions").cast("long").alias("n_transitions"),
            round_half_up(F.col("n_transitions") / F.col("__t"), 4).alias("prob"),
        )
    )


#: conversion-lag histogram edges, minutes. EVERY bucket is upper-
#: exclusive, including the last — a lag of exactly 1440 min falls
#: outside the window and counts as organic, matching the registered
#: oracle's `lag_min < 1440`. Do not "fix" this to <=: it would break
#: hash parity.
CONVERSION_LAG_BUCKETS = (
    ("00-05m", 0, 5),
    ("05-30m", 5, 30),
    ("30m-2h", 30, 120),
    ("02h-24h", 120, 1440),
)


def conversion_lag_histogram(events: DataFrame) -> DataFrame:
    """Time-to-convert distribution: for every purchase, the lag to
    the user's most recent strictly-earlier view, bucketed
    (:data:`CONVERSION_LAG_BUCKETS`; lags beyond 24 h and purchases
    with no prior view land in 'organic'). The companion of the
    last-touch attribution report — same as-of core
    (:func:`asof_join`: union + last(ignorenulls) window, ONE
    user-keyed shuffle, no theta join), then a map-side bucket label
    and a tiny groupBy on the bucket grain.

    Output: (lag_bucket, n_conversions, avg_value 2dp, avg_lag_min
    2dp — NULL for organic).
    """
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = events.filter(F.col("event_type") == "view").select("user_id", "ts")
    j = asof_join(purchases, views, on=["user_id"], right_cols=[])
    lag_min = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("matched_ts"))
    ) / 60_000_000.0
    bucket = F.lit("organic")
    for name, lo, hi in reversed(CONVERSION_LAG_BUCKETS):
        bucket = F.when(
            F.col("matched_ts").isNotNull()
            & (lag_min >= F.lit(float(lo)))
            & (lag_min < F.lit(float(hi))),
            F.lit(name),
        ).otherwise(bucket)
    in_window = F.col("matched_ts").isNotNull() & (lag_min < 1440.0)
    return (
        j.select(
            bucket.alias("lag_bucket"),
            F.col("value"),
            F.when(
                in_window,
                F.unix_micros(F.col("ts")) - F.unix_micros(F.col("matched_ts")),
            ).alias("__lag"),
        )
        .groupBy("lag_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            exact_avg("value", 2).alias("avg_value"),
            round_half_up(
                F.sum("__lag") / (F.count("__lag") * 60_000_000.0), 2
            ).alias("avg_lag_min"),
        )
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU and rolling WAU (distinct users over the trailing
    ``window_days`` days) per activity day, plus the DAU/WAU
    stickiness ratio.

    Exact rolling COUNT DISTINCT is not windowable (distinct doesn't
    decompose), and a day-range theta self-join is the slow spelling.
    Instead each (day, user) activity row is fanned MAP-ONLY into the
    ``window_days`` window-end days it contributes to (``sequence`` +
    ``explode`` — calendar-bounded fanout, no join), then one
    countDistinct per window-end day. The inner join back to the
    observed-day DAU table drops synthetic window-ends beyond the data
    range and is keyed on the tiny day grain.

    Output: (day 'yyyy-MM-dd', dau, wau, stickiness 4dp), observed
    days only.
    """
    grain = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = grain.groupBy("day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    contrib = grain.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), window_days - 1))
        ).alias("wday"),
        "user_id",
    )
    wau = contrib.groupBy("wday").agg(
        F.countDistinct("user_id").cast("long").alias("wau")
    )
    return (
        dau.join(wau, dau["day"] == wau["wday"])
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            round_half_up(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
    )


def sessionize_native(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessionization via Spark's NATIVE ``session_window``
    aggregate — the streaming-ready twin of :func:`sessionize`
    (identical single user-keyed shuffle; this exact expression drops
    into a ``readStream`` + watermark plan unchanged, which the
    lag/cumsum formulation cannot).

    Boundary semantics differ from :func:`sessionize` at exactly-gap:
    ``session_window`` merges events whose [ts, ts+gap) intervals
    OVERLAP, so a successor arriving exactly ``gap`` later starts a
    NEW session (strict <), while the lag-formulation's ``diff > gap``
    test keeps it. The registered oracle states the native semantics
    (``>= gap``) — don't "align" them.

    Output: (user_id, session_start_us, session_end_us, n_events,
    sum_value 2dp); session_end = last event + gap, exactly the
    native window's close, surfaced as exact epoch microseconds.
    """
    w = events.groupBy(
        "user_id", F.session_window("ts", gap).alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum(money_ints("value"), 2).alias("sum_value"),
    )
    return w.select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        F.unix_micros("w.end").alias("session_end_us"),
        "n_events",
        "sum_value",
    )


def weekly_users_hll_rollup(
    events: DataFrame, lg_k: int = 12
) -> DataFrame:
    """Mergeable-sketch rollup — THE incremental-distinct pattern at
    scale: one Datasketches HLL sketch of user_id per DAY
    (``hll_sketch_agg``), then weekly distincts by UNIONING the daily
    sketches (``hll_union_agg``) — never re-scanning the raw events.
    At 100 TB the daily sketches are a few KB each and persist as a
    stage table; any rollup window (week / month / trailing-28d) is a
    merge over those bytes, which exact countDistinct fundamentally
    cannot do (distinct does not decompose).

    Output: (week 'yyyy-MM-dd' — Monday of the ISO week, n_days,
    est_users). Rows-only: the sketch estimate is engine-specific;
    pytest pins determinism and the estimate's error vs the exact
    weekly distinct (HLL lg_k=12 ⇒ ~1.6 % rel. std error).
    """
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(lg_k)).alias("sk"))
    return (
        daily.groupBy(
            F.date_format(F.date_trunc("week", F.col("day")), "yyyy-MM-dd").alias(
                "week"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        )
    )


def seasonal_decompose_daily(events: DataFrame, period: int = 7) -> DataFrame:
    """Additive seasonal-trend decomposition of the daily event count
    (classical decomposition, the moving-average core of STL):
    ``trend`` = centered ``period``-day moving average (full windows
    only), ``seasonal`` = zero-mean day-of-week effect estimated from
    the detrended series, ``resid`` = count − trend − seasonal.

    Exactness discipline (the exact_sum playbook): the detrended
    series is carried as the INTEGER ``period·n − trend_sum`` so the
    per-dow effect is one exact BIGINT sum divided ONCE; the zero-mean
    adjustment recovers 1e-6-scaled integers (``money_ints``) so the
    cross-dow mean is again an exact integer sum — no double is ever
    summed across rows, so the result is independent of partitioning
    and engine.

    Scale shape: NO global window. The centered moving average uses
    the explode-to-target-slots trick (same as ewma_hourly /
    events_sliding): each daily row contributes to its ±half-window
    neighbor slots, re-aggregated by equi-key — one hash shuffle on
    the day grain. The dow-effect table (≤7 rows) and the cross-dow
    mean (1 row) are broadcast. Day indices are true calendar days
    (epoch-day arithmetic), so calendar gaps yield incomplete windows
    (NULL trend) instead of silently shifted ones.

    Output: (day 'yyyy-MM-dd', dow_iso 1=Mon..7=Sun, n_events,
    trend 4dp, seasonal 4dp, resid 4dp; trend/resid NULL on the
    edge/gap days whose centered window is incomplete).
    """
    from . import caching

    half = period // 2
    daily = events.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # feeds both the slot-explode branch and the join-back: persist so
    # the events scan + day rollup runs once
    daily = caching.persist_tracked(daily.select(
        "day",
        "n",
        F.datediff(F.col("day").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("didx"),
    ))
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("didx") - half, F.col("didx") + half)
        ).alias("tgt"),
        F.col("n").alias("src_n"),
    )
    win = contrib.groupBy("tgt").agg(
        F.sum("src_n").alias("tsum"), F.count(F.lit(1)).alias("cw")
    )
    base = daily.join(
        win.filter(F.col("cw") == period).select(
            F.col("tgt").alias("didx"), "tsum"
        ),
        "didx",
        "left",
    ).withColumn(
        # exact integer detrended series, scaled by `period`
        "det_p",
        F.col("n") * period - F.col("tsum"),
    )
    # ISO dow from epoch-day arithmetic (1970-01-01 was a Thursday =
    # ISO 4): engine-neutral, no locale/firstday ambiguity.
    base = base.withColumn(
        "dow_iso", ((F.col("didx") + F.lit(3)) % 7 + 1).cast("int")
    )
    dow_eff = (
        base.filter(F.col("tsum").isNotNull())
        .groupBy("dow_iso")
        .agg(F.sum("det_p").alias("sdow"), F.count(F.lit(1)).alias("cdow"))
        .select(
            "dow_iso",
            money_ints(
                F.col("sdow") / (F.lit(float(period)) * F.col("cdow")), 6
            ).alias("seas_micro"),
        )
    )
    mean_eff = dow_eff.agg(
        F.sum("seas_micro").alias("summ"),
        F.count(F.lit(1)).alias("ndw"),
    )
    out = (
        base.join(F.broadcast(dow_eff), "dow_iso", "left")
        .crossJoin(F.broadcast(mean_eff))
        .withColumn(
            "seasonal_raw",
            (
                F.col("seas_micro") * F.col("ndw") - F.col("summ")
            ).cast("double")
            / (F.col("ndw") * F.lit(1000000.0)),
        )
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "dow_iso",
        F.col("n").alias("n_events"),
        round_half_up(F.col("tsum") / F.lit(float(period)), 4).alias("trend"),
        round_half_up(F.col("seasonal_raw"), 4).alias("seasonal"),
        round_half_up(
            F.col("n")
            - F.col("tsum") / F.lit(float(period))
            - F.col("seasonal_raw"),
            4,
        ).alias("resid"),
    )


def cusum_changepoint(
    events: DataFrame,
    event_type: str = "error",
    slack_sigmas: float = 0.5,
) -> DataFrame:
    """One-sided CUSUM drift detector over the daily count of one
    event type — the classic Page test for an upward level shift,
    `C_t = max(0, C_{t-1} + (x_t − k))` with reference value
    ``k = mean + slack_sigmas·std`` (global moments).

    The recursion is NOT a window-expressible fold, but its closed
    form is: with ``S_t = Σ_{j≤t}(x_j − k)``, ``C_t = S_t −
    min(0, min_{j≤t} S_j)`` — a running sum and a running min, both
    associative prefix scans. Executed as two distributed two-phase
    scans (ranking.global_cumsum / global_cummin) over the day order:
    no single-reducer window at ANY series length.

    Exactness: x and k are carried as 1e-6-scaled BIGINTs (k is one
    deterministic double rounded once), so both prefix scans sum exact
    integers — partitioning/engine independent; moments come from
    exact Σx / Σx² (decimal-widened).

    Output: (day 'yyyy-MM-dd', n_events, cusum 4dp, is_peak 0/1 — the
    argmax day(s), i.e. the detected change point).
    """
    from .ranking import global_cummin, global_cumsum

    daily = (
        events.filter(F.col("event_type") == event_type)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        # widen-first: cast BEFORE squaring so long*long cannot wrap
        # (the oracle does CAST(x AS HUGEINT) * x)
        F.sum(
            (F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")).cast(
                "decimal(38,0)"
            )
        ).alias("sxx"),
    ).select(
        money_ints(
            F.col("sx") / F.col("n")
            + F.lit(slack_sigmas)
            * F.sqrt(
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx") / F.col("n")
                )
                / (F.col("n") - F.lit(1))
            ),
            6,
        ).alias("k_micro")
    )
    d = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "x",
        (F.col("x") * F.lit(1000000) - F.col("k_micro")).alias("delta"),
    )
    s = global_cumsum(d, [F.col("day").asc()], "delta", "s_run")
    s = global_cummin(s, [F.col("day").asc()], "s_run", "s_min")
    s = s.withColumn(
        "cusum_micro",
        F.col("s_run") - F.least(F.lit(0).cast("long"), F.col("s_min")),
    )
    peak = s.agg(F.max("cusum_micro").alias("peak_micro"))
    return (
        s.crossJoin(F.broadcast(peak))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("x").alias("n_events"),
            round_half_up(F.col("cusum_micro") / F.lit(1000000.0), 4).alias(
                "cusum"
            ),
            (F.col("cusum_micro") == F.col("peak_micro"))
            .cast("int")
            .alias("is_peak"),
        )
    )
