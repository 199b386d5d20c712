"""As-of join and bin-bucketed range join: tie-break, boundary, and
no-match semantics on hand-built frames, plus the single-shuffle plan
shape for the as-of composition."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from b2b_data_pipeline_indiamart_spark.operators import temporal


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_asof_strict_excludes_equal_ts(spark):
    left = _mk(
        spark,
        [(1, 10, _ts("2024-01-01 00:10:00"))],
        "id long, user_id long, ts timestamp",
    )
    right = _mk(
        spark,
        [
            (10, _ts("2024-01-01 00:10:00")),  # equal ts: excluded under strict
            (10, _ts("2024-01-01 00:05:00")),  # the strict match
        ],
        "user_id long, ts timestamp",
    )
    out = temporal.asof_join(left, right, on=["user_id"]).collect()
    assert len(out) == 1
    assert out[0]["matched_ts"] == _ts("2024-01-01 00:05:00")


def test_asof_no_match_is_null(spark):
    left = _mk(
        spark,
        [(1, 10, _ts("2024-01-01 00:00:00")), (2, 11, _ts("2024-01-01 01:00:00"))],
        "id long, user_id long, ts timestamp",
    )
    right = _mk(
        spark,
        [(10, _ts("2024-01-01 00:30:00"))],  # later than left id=1; wrong user for id=2
        "user_id long, ts timestamp",
    )
    rows = {r["id"]: r for r in temporal.asof_join(left, right, on=["user_id"]).collect()}
    assert rows[1]["matched_ts"] is None
    assert rows[2]["matched_ts"] is None


def test_asof_carries_right_payload_of_latest_row(spark):
    left = _mk(
        spark,
        [(1, 10, _ts("2024-01-01 02:00:00"))],
        "id long, user_id long, ts timestamp",
    )
    right = _mk(
        spark,
        [
            (10, _ts("2024-01-01 00:00:00"), "old"),
            (10, _ts("2024-01-01 01:00:00"), "new"),
        ],
        "user_id long, ts timestamp, tag string",
    )
    out = temporal.asof_join(left, right, on=["user_id"], right_cols=["tag"]).collect()
    assert out[0]["matched_tag"] == "new"


def test_asof_plan_is_single_shuffle_no_join(spark):
    left = _mk(spark, [(1, 10, _ts("2024-01-01 00:00:00"))], "id long, user_id long, ts timestamp")
    right = _mk(spark, [(10, _ts("2024-01-01 00:00:00"))], "user_id long, ts timestamp")
    out = temporal.asof_join(left, right, on=["user_id"])
    explained = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in explained  # union + window, never a theta join
    assert explained.count("Exchange") <= 2  # one hash partitioning (+AQE read)


def test_range_join_boundaries_inclusive_and_cross_bin(spark):
    # lookback 600 s; left at 00:20:00 covers [00:10:00, 00:20:00].
    left = _mk(spark, [(1, 7, _ts("2024-01-01 00:20:00"))], "id long, user_id long, ts timestamp")
    right = _mk(
        spark,
        [
            (7, _ts("2024-01-01 00:10:00"), 1.0),  # exact lower bound: in
            (7, _ts("2024-01-01 00:20:00"), 2.0),  # exact upper bound: in
            (7, _ts("2024-01-01 00:09:59"), 4.0),  # just below: out
            (7, _ts("2024-01-01 00:12:00"), 8.0),  # earlier bin than left: in
            (8, _ts("2024-01-01 00:15:00"), 16.0),  # other user: out
        ],
        "user_id long, ts timestamp, value double",
    )
    out = temporal.range_join_agg(
        left,
        right,
        on=["user_id"],
        aggs=[F.count(F.lit(1)).cast("long").alias("cnt"), F.sum("r_value").alias("s")],
    ).collect()
    assert len(out) == 1
    assert out[0]["cnt"] == 3
    assert out[0]["s"] == 11.0


def test_range_join_left_semantics_keeps_unmatched(spark):
    left = _mk(
        spark,
        [(1, 7, _ts("2024-01-01 00:20:00")), (2, 9, _ts("2024-01-01 00:20:00"))],
        "id long, user_id long, ts timestamp",
    )
    right = _mk(spark, [(7, _ts("2024-01-01 00:19:00"), 1.0)], "user_id long, ts timestamp, value double")
    rows = {
        r["id"]: r
        for r in temporal.range_join_agg(
            left, right, on=["user_id"], aggs=[F.count(F.lit(1)).cast("long").alias("cnt")]
        ).collect()
    }
    assert rows[1]["cnt"] == 1
    assert rows[2]["cnt"] is None  # caller coalesces; operator keeps the row


def test_range_join_duplicate_left_rows_not_merged(spark):
    # two FULLY identical left rows: each must report its OWN matches
    # (3 right rows in range), not the fused group's 6 — and both rows
    # must survive to the output.
    left = _mk(
        spark,
        [(1, 7, _ts("2024-01-01 00:20:00")), (1, 7, _ts("2024-01-01 00:20:00"))],
        "id long, user_id long, ts timestamp",
    )
    right = _mk(
        spark,
        [
            (7, _ts("2024-01-01 00:15:00"), 1.0),
            (7, _ts("2024-01-01 00:16:00"), 2.0),
            (7, _ts("2024-01-01 00:17:00"), 4.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = temporal.range_join_agg(
        left,
        right,
        on=["user_id"],
        aggs=[F.count(F.lit(1)).cast("long").alias("cnt"), F.sum("r_value").alias("s")],
    ).collect()
    assert len(out) == 2
    assert [r["cnt"] for r in out] == [3, 3]
    assert [r["s"] for r in out] == [7.0, 7.0]


def test_attribution_report_deadline_semantics(spark):
    """A view 25h before the purchase is EXPIRED (organic); 1h before
    is attributed — pins the 24h lookback cut of the registry key's
    core expression on an obvious frame."""
    from datetime import datetime

    from b2b_data_pipeline_indiamart_spark.operators import temporal
    from pyspark.sql import functions as F

    mk = lambda d, h: datetime(2026, 1, d, h)  # noqa: E731
    purchases = spark.createDataFrame(
        [(1, 1, mk(2, 12)), (2, 2, mk(2, 12))],
        "event_id long, user_id long, ts timestamp",
    )
    views = spark.createDataFrame(
        [(1, mk(2, 11)), (2, mk(1, 11))],  # u1: 1h before; u2: 25h before
        "user_id long, ts timestamp",
    )
    j = temporal.asof_join(purchases, views, on=["user_id"], right_cols=[])
    lag_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("matched_ts"))
    attributed = F.when(
        F.col("matched_ts").isNotNull() & (lag_us <= 86_400_000_000), 1
    ).otherwise(0)
    got = {r["event_id"]: r["a"] for r in j.select("event_id", attributed.alias("a")).collect()}
    assert got == {1: 1, 2: 0}


def test_funnel_windowed_deadline_semantics(spark, sf_small):
    """The windowed funnel can never credit MORE conversions than the
    unconstrained funnel, and both stage counts are monotone."""
    from b2b_data_pipeline_indiamart_spark.plans import QUERIES

    [w] = QUERIES["events_funnel_windowed"](spark, sf_small).collect()
    assert w["n_view"] >= w["n_click_1h"] >= w["n_purchase_24h"] >= 0
    assert 0.0 <= w["click_rate"] <= 1.0
